package graft.tables

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A `FileIndex` over an explicit list of parquet files taken from the
  * commit log — the Delta paper's point (§3) that a table's log exists so
  * readers never LIST storage. `spark.read.parquet(files: _*)` builds an
  * `InMemoryFileIndex` that lists every path again, and above
  * `parallelPartitionDiscovery.threshold` (32) paths it does so with a
  * Spark job of one task per file; a snapshot read here costs one
  * driver-side `getFileStatus` per file and no job.
  *
  * No partition schema: modern-layout files store their partition
  * columns' values in the data (see `GraftTable.writeData`), so the
  * `__part_k=v` directory segments are never inferred. Equality is over
  * the qualified file set — as `InMemoryFileIndex` compares root paths —
  * so `CacheManager` lookups and exchange reuse still match two reads of
  * the same snapshot.
  */
private[graft] final class LogFileIndex(spark: SparkSession, files: Seq[String])
    extends FileIndex {

  private val statuses: Array[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      fs.getFileStatus(fs.makeQualified(p))
    }.toArray
  }

  private val fileSet: Set[Path] = statuses.map(_.getPath).toSet

  override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

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
    * listing. The data schema is made nullable, as `DataSource` does for
    * every file source: a file written before a column was added reads
    * it as null. */
  def read(spark: SparkSession, files: Seq[String],
      schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new LogFileIndex(spark, files), new StructType(),
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
