package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.JavaConverters._

import org.apache.spark.sql.SparkSession

import graft.tables.GraftTable

/** What a workload's checks concluded: named checks (name, passed,
  * detail) and the ids of ops whose observed result was wrong. */
final case class Verdict(checks: Seq[(String, Boolean, String)], failedOps: Set[Int]) {
  def passed: Boolean = checks.forall(_._2)
}

/** Everything a workload needs from the harness. `corrupt` deliberately
  * falsifies each workload's expectation (the benchmark's own tests use it
  * to show that every check can fail). */
final class Bench(val spark: SparkSession, val seed: Long, val scale: Double,
    val workDir: Path, val corrupt: Boolean, phaseLimitS: Double) {
  /** Seeded random source for one purpose (`salt` keeps purposes apart). */
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  /** Scaled count, never below `min`. */
  def n(base: Double, min: Int = 1): Int = math.max(min, math.round(base * scale).toInt)

  private var deadlineNs = Long.MaxValue
  /** Start a timed phase; the runaway guard stops issuing ops after `phaseLimitS`. */
  def startPhase(): Unit = deadlineNs = System.nanoTime() + (phaseLimitS * 1e9).toLong
  def overDeadline: Boolean = System.nanoTime() > deadlineNs

  def dir(parts: String*): String = {
    val p = Paths.get(workDir.toString, parts: _*)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Stats-pruned file count for `pred`, as a shadow call made between ops
    * (outside every op's wall) in the traced run only. */
  def shadowPrune(rec: Recorder, t: GraftTable, pred: String): Unit =
    if (rec.traced) {
      val s = System.nanoTime()
      val (kept, total) = t.pruneFiles(pred)
      rec.prunes += (((System.nanoTime() - s) / 1e6, kept.size, total))
    }
}

object Bench {
  def bytesUnder(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (0 for an empty sample). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** A workload: seeded inputs, a state built from them (repeatable, so set
  * up can be timed several times), a fixed op sequence over that state,
  * and checks of what the ops observed against the generator's model. */
abstract class Workload {
  type In
  type St
  def name: String
  /** Ops issued per requested second: the op count is fixed by
    * `--seconds`, so both commits of a comparison run the same sequence
    * and reach the same state. */
  def opsPerSecond: Double
  def gen(b: Bench, nOps: Int): In
  def build(b: Bench, in: In, dir: String): St
  def run(b: Bench, in: In, st: St, rec: Recorder, nOps: Int): Unit
  def verify(b: Bench, in: In, st: St, rec: Recorder): Verdict
  /** Bytes of the user's input (the generated parquet it ingests). */
  def userBytes(in: In): Long
  def tables(st: St): Seq[GraftTable]
}
