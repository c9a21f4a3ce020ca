package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalogued query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables. Column names/order-by must match exactly (driver hashes
  * column-sorted values).
  */
final case class GQ(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait QueryBatch {
  def queries: Seq[GQ]
}

/** The single home of the scratch-table area: gate queries write their
  * versioned tables/checkpoints under one root so the harnesses (Bench
  * between queries, Verify at startup) can wipe exactly this tree.
  * Previously each batch had its own copy of the literal — moving the
  * root meant editing them all, and a missed copy silently escaped the
  * cleanup. The root resolves against the working directory, so each
  * checkout writes (and wipes) only its own `target/qtmp`. */
object Scratch {
  val Root: String =
    java.nio.file.Paths.get("target", "qtmp").toAbsolutePath.toString

  /** Fresh per-call dir path (not created; writers create as needed). */
  def dir(tag: String): String = {
    val p = java.nio.file.Paths.get(Root,
      tag + "-" + java.util.UUID.randomUUID().toString.take(8))
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }
}
