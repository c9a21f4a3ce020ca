package graft.tools

import graft.tables.FileStats

/** Footer-harvest scaling measurement (dev tool, VERDICT r17 #3): an
  * OPTIMIZE of a 100 TB table can commit ~10⁵ files, and the driver
  * thread-pool harvest serializes that IO; above
  * `FileStats.DistributedHarvestFiles` files the harvest runs as a
  * Spark job instead. This tool writes N small parquet files, times
  * BOTH paths on the SAME file list at several N, and prints ms/file —
  * the distributed path must stay flat per file as N grows past 10⁴
  * while returning the identical map (equality asserted here and in
  * FileStatsSpec).
  *
  * Usage: runMain graft.tools.ProfHarvest [counts]
  *   counts: comma-separated file counts (default 1024,4096,12288)
  */
object ProfHarvest {
  def main(args: Array[String]): Unit = {
    val counts = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1024, 4096, 12288))
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    counts.foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory("profharvest")
      // n tiny files, each with real stats (two columns + some nulls)
      spark.range(n.toLong * 20)
        .select($"id", ($"id" * 7 % 1000).as("v"),
          org.apache.spark.sql.functions.when($"id" % 3 === 0, $"id").as("nullable"))
        .repartition(n)
        .write.parquet(s"$dir/t")
      val files = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t"))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSeq
        } finally st.close()
      }
      def time[T](body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      // driver pool path (threshold pushed above n)
      val (viaDriver, dSec) = time(FileStats.harvestWithRows(spark, files, n + 1))
      // distributed path, twice (first run pays job-setup warm-up)
      FileStats.harvestDistributed(spark, files.take(64))
      val (viaJob, jSec) = time(FileStats.harvestDistributed(spark, files))
      require(viaJob == viaDriver, "distributed harvest must equal driver pool")
      println(f"[profharvest] files=$n%6d driver=${dSec}%7.2f s (${dSec * 1000 / n}%5.2f ms/file)  " +
        f"distributed=${jSec}%7.2f s (${jSec * 1000 / n}%5.2f ms/file)")
      graft.tables.GraftTable.deleteTree(dir)
    }
    spark.stop()
  }
}
