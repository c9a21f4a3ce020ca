package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.tables.GraftTable

/** Commit-log micro-bench (SCALING.md, "Commit log"): one table's log
  * driven by commits alone — no data written, no Spark job. Odd commits
  * append one file (at the live-file cap, the same commit also removes
  * one live file), even commits rewrite one live file into one new file;
  * every added file carries two columns of stats. At each mark it prints
  * the mean and median cost of the 1,000 commits before it and the GC
  * time spent during them, the median of 21 cold
  * loads (`clearAllCaches`, `load`, `filesAt`), the bytes of the newest
  * checkpoint and of the whole `_log`, and the heap after GC above the
  * heap before the table was created. No `history` call is made, so the
  * heap holds only what the log cache keeps. Ten unreported 1,000-commit
  * runs on throwaway tables come first, so the marks time compiled code.
  *
  * Usage: runMain graft.tools.ProfLog [marks] [cap]
  *   marks: comma-separated commit counts (default 1000,4000,16000,64000)
  *   cap:   live-file cap (default 500)
  */
object ProfLog {
  def main(args: Array[String]): Unit = {
    val marks = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1000, 4000, 16000, 64000))
    val cap = args.lift(1).map(_.toInt).getOrElse(500)
    val spark = graft.GraftSession.local(1)
    spark.sparkContext.setLogLevel("WARN")
    // unreported runs on short logs first, so that the marks time compiled code
    (1 to 10).foreach(_ => drive(spark, Seq(1000), cap, report = false))
    drive(spark, marks, cap, report = true)
    spark.stop()
  }

  def drive(spark: SparkSession, marks: Seq[Int], cap: Int, report: Boolean): Unit = {
    val dir = Files.createTempDirectory("proflog")
    val path = s"$dir/t"
    val schema = new StructType().add("id", LongType).add("grp", IntegerType)
    val baseMb = heapMb()
    val t = GraftTable.create(spark, path, schema)
    val rnd = new scala.util.Random(1)
    val live = mutable.ArrayBuffer[String]()
    val commitMs = new Array[Double](marks.max + 1)
    val gcMs = new Array[Long](marks.max + 1)
    gcMs(0) = gcTotalMs()
    def commit(removed: Seq[String]): Unit = {
      val id = t.currentVersion + 1
      val f = s"data/c$id/part-00000.parquet"
      val stats = Map("id" -> ((id * 10).toString, (id * 10 + 9).toString), "grp" -> ("0", "15"))
      t.commit("WRITE", Seq(f), removed, schema, metrics = Map("numOutputRows" -> 10L),
        fileStats = Map(f -> stats))
      live += f
    }
    /** Takes one random live file out of `live` (swap-remove). */
    def takeLive(): String = {
      val k = rnd.nextInt(live.size)
      val f = live(k)
      live(k) = live.last
      live.remove(live.size - 1)
      f
    }
    (1 to marks.max).foreach { i =>
      val t0 = System.nanoTime()
      if (i % 2 == 1) commit(if (live.size >= cap) Seq(takeLive()) else Nil)
      else commit(Seq(takeLive()))
      commitMs(i) = (System.nanoTime() - t0) / 1e6
      gcMs(i) = gcTotalMs()
      if (marks.contains(i)) {
        val from = math.max(1, i - 999)
        val recent = commitMs.slice(from, i + 1)
        val cold = (1 to 21).map { _ =>
          val c0 = System.nanoTime()
          GraftTable.clearAllCaches()
          require(GraftTable.load(spark, path).filesAt().size == live.size)
          (System.nanoTime() - c0) / 1e6
        }
        val ckpt = Files.size(Paths.get(path, "_log", f"checkpoint-v${i - i % 10}%020d.json"))
        val logBytes = {
          val s = Files.list(Paths.get(path, "_log"))
          try s.iterator().asScala.map(Files.size).sum finally s.close()
        }
        if (report) println(f"[proflog] commits=$i%6d live=${live.size}%5d " +
          f"commit_ms=${recent.sum / recent.size}%7.3f p50=${Harness.median(recent.toSeq)}%6.3f " +
          f"gc_ms=${gcMs(i) - gcMs(from - 1)}%5d cold_load_ms=${Harness.median(cold)}%8.3f " +
          f"checkpoint_bytes=$ckpt%9d log_bytes=$logBytes%11d heap_mb=${heapMb() - baseMb}%7.1f")
      }
    }
    GraftTable.deleteTree(dir)
  }

  def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full GCs, in MB. */
  def heapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
