package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` per-file parquet machinery for
  * the native row-level-operation path ([[graft.sources]]): a DSv2
  * `Batch` needs an executor-side InternalRow READER per data file,
  * and a DSv2 `BatchWrite` needs an executor-side InternalRow WRITER —
  * both of which Spark only exposes through the sql-internal
  * [[ParquetFileFormat]]. Same minimal-surface rule as the sibling
  * shims: reuse Spark's battle-tested reader/writer (predicate
  * pushdown, schema clipping, null-fill for absent columns, row-index
  * generation) instead of re-implementing parquet.
  */
object ParquetShim {

  /** The magic column name Spark's parquet readers fill with each
    * row's index within its file — the deletion-vector mask and
    * row-tracking base+position resolve key.
    */
  def rowIndexColumn: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Serializable per-file-split row reader: (absolutePath, start,
    * length, fileSize) → rows in `requiredSchema` order (columns
    * absent in a file read as null — how a fresh file reads before
    * row-id materialization; a row group belongs to the split holding
    * its midpoint, and generated row indexes are FILE-absolute, so
    * byte-range splits keep DV/row-id math exact). The session's
    * VECTORIZED parquet decode is kept when the schema supports it —
    * the raw iterator then yields ColumnarBatches, unwrapped here
    * through the batch's row iterator (rows are transient views,
    * valid until the consumer advances — the row-level pipeline
    * consumes each row synchronously).
    */
  def buildRowReader(spark: SparkSession, dataSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter])
      : (String, Long, Long, Long) => Iterator[InternalRow] = {
    val fmt = new ParquetFileFormat()
    // Spark 4 contract: the caller must declare whether it expects
    // ColumnarBatches; batch decode only when the schema supports it
    val returningBatch = fmt.supportBatch(spark, requiredSchema)
    val fn = fmt.buildReaderWithPartitionValues(
      spark, dataSchema, StructType(Nil), requiredSchema, filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> returningBatch.toString),
      spark.sessionState.newHadoopConf())
    (path: String, start: Long, length: Long, fileSize: Long) => {
      import scala.jdk.CollectionConverters._
      fn(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(path),
        start, length, Array.empty, 0L, fileSize, Map.empty))
        .asInstanceOf[Iterator[Any]].flatMap {
          case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
            b.rowIterator().asScala
          case r: InternalRow => Iterator.single(r)
        }
    }
  }

  /** `schema` with every field nullable, nested fields too, as a path
    * read declares its data schema (`StructType.asNullable` is
    * `private[spark]`).
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Driver-side write preparation: an [[OutputWriterFactory]] (it is
    * Serializable by contract) plus the job Configuration it was
    * configured against — both ship to tasks. Timestamps are forced to
    * INT64 micros like the table layer's staged writes, so footer
    * stats keep driving data skipping.
    */
  def prepareParquetWrite(spark: SparkSession, dataSchema: StructType)
      : (OutputWriterFactory, Configuration) = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory =
        new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
      (factory, job.getConfiguration)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
  }

  /** Executor-side writer over one output file. */
  def newTaskWriter(factory: OutputWriterFactory, conf: Configuration,
      path: String, schema: StructType, partitionId: Int): OutputWriter = {
    val attempt = new TaskAttemptID(
      new TaskID(new org.apache.hadoop.mapreduce.JobID("graft-rlo", 0),
        TaskType.MAP, partitionId), 0)
    factory.newInstance(path, schema, new TaskAttemptContextImpl(conf, attempt))
  }

  def fileExtension(factory: OutputWriterFactory, conf: Configuration): String = {
    val attempt = new TaskAttemptID(
      new TaskID(new org.apache.hadoop.mapreduce.JobID("graft-rlo", 0),
        TaskType.MAP, 0), 0)
    factory.getFileExtension(new TaskAttemptContextImpl(conf, attempt))
  }

  /** Hive-style partition directory escaping (what `df.write
    * .partitionBy` produces, so row-level writes keep the table
    * layer's directory layout).
    */
  def escapePathName(s: String): String = ExternalCatalogUtils.escapePathName(s)
  def defaultPartitionName: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
}
