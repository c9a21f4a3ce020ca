package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: run only queries whose name starts with one of these
    // comma-separated prefixes (local iteration; the driver passes 2 args)
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    def wanted(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // scratch tables from previous runs (~0.5 GB per full pass) — wipe so
    // repeated gate runs don't accumulate disk
    graft.tables.GraftTable.deleteTree(
      java.nio.file.Paths.get(graft.queries.Scratch.Root))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally {
          // a gate that threw between stream start and await leaves its
          // stream running in the background, corrupting later gates'
          // scratch state — stop strays on the root session AND the
          // derived stateSized sessions (own StreamingQueryManagers)
          spark.streams.active.foreach(_.stop())
          graft.queries.StreamQueries.stopDerivedStreams()
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
