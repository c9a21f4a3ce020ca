package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Local mode sizes shuffle partitions to the core count (Spark's default
  * 200 is wrong for one machine); on a cluster leave partitions to AQE
  * coalescing. AQE stays on for skew-join splitting and dynamic broadcast
  * — the knobs the reference tunes by hand (`HF/datavalidator.py:13-14`,
  * `OPT:47-52`) are left to Spark's runtime re-planner.
  */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    localBuilder(cores).getOrCreate()

  /** The builder behind [[local]], for callers that add settings which
    * must be fixed before the context starts (status-store bounds, an
    * explicit partition count). */
  def localBuilder(cores: Int): SparkSession.Builder =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))

  /** Apply engine defaults to any builder (cluster or local). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .appName("graft")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // tolerate TIMESTAMP(NANOS) parquet inputs (read as long; Tables.t
    // converts to micros)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
