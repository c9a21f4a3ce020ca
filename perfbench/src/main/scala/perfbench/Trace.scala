package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation of the closed loop. `rows` is the number of user
  * rows the op changes or ingests (0 for reads); `out` is what the op
  * observed, checked against the generator's expectation after timing. */
final case class OpRec(id: Int, kind: String, read: Boolean, write: Boolean,
    startNs: Long, endNs: Long, ok: Boolean, rows: Long, out: Any, err: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A traced interval: a bench call into one engine layer. `parent` is the
  * enclosing span (-1 for an op's root span); `op` is the op id. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Records ops and, when `traced`, spans around each public engine call.
  * One client thread drives the engine, so a single span stack suffices;
  * stream micro-batches run on the stream thread while the client thread
  * waits in `awaitTermination`, so the stack is still never shared by two
  * running threads. */
final class Recorder(val traced: Boolean) {
  val ops = ArrayBuffer[OpRec]()
  val spans = ArrayBuffer[Span]()
  /** Shadow stats-pruning calls: (ms, files kept, files total). */
  val prunes = ArrayBuffer[(Double, Int, Int)]()
  /** Per streaming batch id, ms of bench ops run inside its foreachBatch
    * after its micro-batch op: part of Spark's durations of that batch,
    * not of the batch's work. */
  val inBatchMs = scala.collection.mutable.Map[Long, Double]()
  private val open = scala.collection.mutable.Map[Int, (String, Int, Int, Long)]()
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var pending: Option[(String, Boolean, Boolean, Long, Long, Int)] = None

  private def openSpan(name: String, startNs: Long): Int = synchronized {
    val id = nextSpan; nextSpan += 1
    val opId = pending.map(_._6).getOrElse(-1)
    open(id) = (name, stack.headOption.getOrElse(-1), opId, startNs)
    stack = id :: stack
    id
  }

  private def closeSpan(id: Int): Unit = synchronized {
    val (name, parent, opId, s) = open.remove(id).get
    spans += Span(id, name, parent, opId, s, System.nanoTime())
    stack = stack.dropWhile(_ != id).drop(1)
  }

  /** Start an op at `startNs` (default now). */
  def beginOp(kind: String, read: Boolean, write: Boolean, rows: Long,
      startNs: Long = System.nanoTime()): Unit = synchronized {
    require(pending.isEmpty, "ops do not nest")
    pending = Some((kind, read, write, rows, startNs, ops.size))
    stack = Nil
    if (traced) openSpan(s"op.$kind", startNs)
  }

  def endOp(ok: Boolean, out: Any = null, err: String = null): Unit = synchronized {
    val (kind, read, write, rows, s, id) = pending.get
    if (traced && stack.nonEmpty) closeSpan(stack.last)
    stack = Nil
    ops += OpRec(id, kind, read, write, s, System.nanoTime(), ok, rows, out, err)
    pending = None
  }

  /** Record an already finished child span of the current op. */
  def spanFrom(name: String, startNs: Long): Unit = if (traced) synchronized {
    val id = openSpan(name, startNs)
    closeSpan(id)
  }

  /** Time `body` as one op; an exception fails the op and the loop goes on. */
  def op[A](kind: String, read: Boolean = false, write: Boolean = false,
      rows: Long = 0L)(body: => A): Unit = {
    beginOp(kind, read, write, rows)
    try { val out = body; endOp(ok = true, out) }
    catch { case NonFatal(e) => endOp(ok = false, err = Recorder.describe(e)) }
  }

  /** Span around one call into an engine layer (only recorded when traced). */
  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val id = openSpan(name, System.nanoTime())
      try body finally closeSpan(id)
    }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Bench ops of streaming batch `batchId` ran from `startNs` until now. */
  def benchInBatch(batchId: Long, startNs: Long): Unit = synchronized {
    inBatchMs(batchId) = (System.nanoTime() - startNs) / 1e6
  }
}

object Recorder {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** Spark-side view of the run, from a listener the bench installs itself:
  * job intervals and per-job task totals, plus streaming progress. */
final class SparkProbe extends SparkListener {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final class TaskTotals {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  val perJob = scala.collection.mutable.Map[Int, TaskTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = perJob.getOrElseUpdate(stageJob.getOrElse(e.stageId, -1), new TaskTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Streaming progress per micro-batch (Spark's own durations). */
final class StreamProbe extends StreamingQueryListener {
  final case class Batch(id: Long, triggerMs: Long, addBatchMs: Long, rows: Long)
  val batches = ArrayBuffer[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
    if (p.numInputRows > 0) batches += Batch(p.batchId, d("triggerExecution"), d("addBatch"), p.numInputRows)
  }
}

/** Splits each op's wall into: time a Spark job was running, time inside
  * a bench span of each layer with no job running (that layer's driver
  * self time), and the rest (bench glue, unattributed). The three parts
  * sum to the op wall by construction. */
object Attribution {
  final case class Split(wallMs: Double, sparkMs: Double, layerMs: Map[String, Double],
      unattributedMs: Double)

  def split(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[(Long, Long)]): Seq[Split] = {
    val byOp = spans.groupBy(_.op)
    val depth = scala.collection.mutable.Map[Int, Int]()
    val byId = spans.map(s => s.id -> s).toMap
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else byId.get(s.parent).map(depthOf).getOrElse(0) + 1)
    ops.map { o =>
      val (s, e) = (o.startNs, o.endNs)
      val js = jobs.filter { case (a, b) => b > s && a < e }
        .map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      val ss = byOp.getOrElse(o.id, Nil).filter(_.parent >= 0)
      val cuts = (Seq(s, e) ++ js.flatMap(j => Seq(j._1, j._2)) ++
        ss.flatMap(x => Seq(math.max(x.startNs, s), math.min(x.endNs, e))))
        .filter(t => t >= s && t <= e).distinct.sorted
      var spark = 0.0; var un = 0.0
      val layer = scala.collection.mutable.Map[String, Double]()
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val mid = a + (b - a) / 2
        val len = (b - a) / 1e6
        if (js.exists { case (x, y) => x <= mid && mid < y }) spark += len
        else {
          val inner = ss.filter(x => x.startNs <= mid && mid < x.endNs)
          if (inner.isEmpty) un += len
          else {
            val l = inner.maxBy(depthOf).layer
            layer(l) = layer.getOrElse(l, 0.0) + len
          }
        }
      }
      Split(o.ms, spark, layer.toMap, un)
    }
  }
}
