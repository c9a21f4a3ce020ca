package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A `FileIndex` over an explicit list of parquet files taken from the
  * commit log — the Delta paper's point (§3) that a table's log exists so
  * readers never LIST storage. Planning runs no listing job, and the one
  * `getFileStatus` per file waits until the planner first asks for the
  * files or their size.
  *
  * Data skipping (the same paper's stats in the log, applied at planning):
  * `listFiles` keeps the files whose `stats` entry (table-relative path,
  * footer stats) cannot rule out the scan's data filters under `schema`
  * (`FileStats.fileMightMatch`). A file without an entry is always kept.
  *
  * No partition schema: modern-layout files store their partition
  * columns' values in the data (see `GraftTable.writeData`). Equality is
  * over the full qualified file set, as `InMemoryFileIndex` compares root
  * paths, so `CacheManager` lookups and exchange reuse still match two
  * reads of the same snapshot.
  */
private[graft] final class LogFileIndex(spark: SparkSession, files: Seq[String],
    schema: StructType, stats: Map[String, (String, FileStats.Stats)])
    extends FileIndex {

  private val paths: Seq[Path] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f => val p = new Path(f); p.getFileSystem(conf).makeQualified(p) }
  }

  private lazy val statuses: Array[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map(p => p.getFileSystem(conf).getFileStatus(p)).toArray
  }

  private val fileSet: Set[Path] = paths.toSet

  override def rootPaths: Seq[Path] = paths

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty || stats.isEmpty) statuses
      else {
        val pred = dataFilters.reduce(And)
        files.iterator.zip(statuses.iterator).collect {
          case (f, status) if stats.get(f).forall { case (rel, st) =>
            FileStats.fileMightMatch(rel, st, pred, schema)
          } => status
        }.toArray
      }
    Seq(PartitionDirectory(InternalRow.empty, kept))
  }

  override def inputFiles: Array[String] = statuses.map(_.getPath.toUri.toString)

  override def refresh(): Unit = () // a snapshot's file list never changes

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: LogFileIndex => fileSet == o.fileSet
    case _ => false
  }

  override def hashCode(): Int = fileSet.hashCode()
}

private[graft] object LogFileIndex {

  /** Parquet read of exactly `files` with `schema`, planned without a
    * listing and skipping by `stats`. The data schema is made nullable,
    * as `DataSource` does for every file source: a file written before a
    * column was added reads it as null. */
  def read(spark: SparkSession, files: Seq[String], schema: StructType,
      stats: Map[String, (String, FileStats.Stats)] = Map.empty): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new LogFileIndex(spark, files, schema, stats), new StructType(),
      asNullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat, Map.empty)(spark))

  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }
}
