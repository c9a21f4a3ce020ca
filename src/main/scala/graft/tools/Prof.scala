package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, Tables}

/** The profiling entry point: per-gate cost attribution for catalogued
  * queries, without the UI and without running the full Bench suite.
  *
  * Usage: runMain graft.tools.Prof <sfDir> <name1,name2,...|all> [reps]
  *
  * Each rep starts from a reset session (`Harness.resetRunState`), runs
  * the query through the noop sink Bench uses and prints one line: wall
  * seconds, jobs / stages / tasks, summed executor run time, GC time,
  * shuffle read/write MB, task deserialization time and the data files
  * its scans read, then one line per job of 40 ms or more.
  * `wall ≫ task_s / cores` means driver- or scheduling-bound (too many
  * tiny actions); `task_s ≈ wall × cores` means compute-bound inside
  * tasks.
  */
object Prof {

  /** What one body cost: its wall time and what the listener bus reported
    * for the jobs it ran. `slowJobs` holds (job id, ms, description) for
    * every job of 40 ms or more; `filesRead` sums the file scans'
    * `numFiles` over every query the body ran on the session. */
  final case class Cost(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      taskS: Double, gcS: Double, shufReadMb: Double, shufWriteMb: Double,
      deserS: Double, filesRead: Long, slowJobs: Seq[(Int, Long, String)]) {
    def line: String =
      f"$wallS%.2f $jobs $stages $tasks $taskS%.2f $gcS%.2f " +
        f"$shufReadMb%.1f $shufWriteMb%.1f $deserS%.2f $filesRead"
  }

  private val Header =
    "wall_s jobs stages tasks task_s gc_s shuf_read_mb shuf_write_mb deser_s files_read"

  private object Plans extends AdaptiveSparkPlanHelper

  /** Data files the file scans of an executed plan read: the sum of their
    * `numFiles` metrics, through adaptive stages and subqueries. */
  def filesRead(plan: SparkPlan): Long =
    Plans.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum

  /** Run `body` and count every job, stage and task between two marker
    * jobs. Listener events arrive asynchronously but in order, so what
    * the listener sees between the end of the first marker and the start
    * of the second is exactly what `body` ran: jobs it starts on other
    * threads (stream batches) count, events left over from before the
    * call and the markers themselves do not. */
  def measure(spark: SparkSession)(body: => Unit): Cost = {
    val sc = spark.sparkContext
    val tag = s"graft-prof-${System.nanoTime()}"
    val (open, close) = (s"$tag-open", s"$tag-close")
    val l = new Counters(open, close)
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        l.onQuery(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        l.onQuery(qe)
    }
    def marker(name: String): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(name)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(prev)
    }
    sc.addSparkListener(l)
    spark.listenerManager.register(queries)
    try {
      marker(open)
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      marker(close)
      require(l.done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Cost(wall, l.jobs, l.stages, l.tasks, l.runMs / 1e3, l.gcMs / 1e3,
        l.readB / 1e6, l.writeB / 1e6, l.deserMs / 1e3, l.filesRead, l.slow.toSeq)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(l)
    }
  }

  /** Listener-bus side of [[measure]]: counts from the end of the `open`
    * marker job to the start of the `close` one. Query-execution events
    * ride the same shared bus queue as the job events, so `onQuery` sees
    * them in order. Only the bus thread touches the fields until `done`
    * opens. */
  private final class Counters(open: String, close: String) extends SparkListener {
    val done = new CountDownLatch(1)
    private var on = false
    private var opener = -1
    var jobs, stages, tasks = 0
    var runMs, gcMs, readB, writeB, deserMs, filesRead = 0L
    private val started = mutable.Map.empty[Int, (Long, String)]
    val slow = mutable.ArrayBuffer.empty[(Int, Long, String)]
    /** On one line: a stream batch's description spans several. */
    private def desc(j: SparkListenerJobStart): String =
      (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) ++
        j.stageInfos.lastOption.map(_.name)).map(_.replaceAll("\\s+", " ").trim)
        .find(_.nonEmpty).getOrElse("?")
    override def onJobStart(j: SparkListenerJobStart): Unit = desc(j) match {
      case `open` => opener = j.jobId
      case `close` => on = false; done.countDown()
      case d if on => jobs += 1; started(j.jobId) = (j.time, d.take(140))
      case _ =>
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (j.jobId == opener) on = true
      else started.remove(j.jobId).foreach { case (t0, d) =>
        if (j.time - t0 >= 40) slow += ((j.jobId, j.time - t0, d))
      }
    def onQuery(qe: QueryExecution): Unit =
      if (on) filesRead += Prof.filesRead(qe.executedPlan)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (on) stages += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (on) {
      tasks += 1
      Option(t.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        deserMs += m.executorDeserializeTime
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <sfDir> <names|all> [reps]")
    val sfDir = args(0)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    val names =
      if (args(1) == "all") qs.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Tables.all.foreach(n => Tables.t(spark, sfDir, n).count()) // warm
    println(s"[prof] name rep $Header")
    for (n <- names; rep <- 1 to reps) {
      Harness.resetRunState(spark, gc = true)
      val c = measure(spark) {
        qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      println(s"[prof] $n $rep ${c.line}")
      c.slowJobs.foreach { case (id, ms, d) =>
        println(f"[prof]   job $id%4d ${ms / 1e3}%6.2fs  $d")
      }
    }
    spark.stop()
  }
}
