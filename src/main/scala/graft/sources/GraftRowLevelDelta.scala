package graft.sources

import java.util.UUID

import graft.lake.{GraftTable, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Delta-based (merge-on-read) native row-level operations — selected
  * by table property `graft.dml.mode = merge-on-read`: instead of the
  * group-based rewrite that copies every surviving row of a touched
  * file, Spark hands this operation ONLY the changed rows. Deletes
  * and update pre-images become deletion-vector marks keyed by the
  * (`_graft_file`, `_graft_pos`) row id the scan emits; inserts and
  * update post-images append as new files. The commit is O(changed
  * rows) regardless of file sizes — the sparse-update shape a 100 TB
  * table needs. The commit runs the path API's merge-on-read tail
  * (`GraftTable.rowLevelCommitDelta` → `maskCommit`): same sidecar,
  * no-op, conflict and auto-REORG rules as `deleteMergeOnRead` /
  * `updateMergeOnRead` / `mergeOnRead()` merges.
  */
final class GraftDeltaOperation(
    spark: SparkSession,
    table: GraftTable,
    command: Command)
  extends GraftRowLevelOperation(spark, table, command) with SupportsDelta {

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileCol),
      Expressions.column(GraftRowLevel.PosCol))

  /** The row id carries the file; the only extra metadata the write
    * needs is the stable row id on tracked tables (post-images keep
    * their row's identity).
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (tracking) Array(Expressions.column(table.RowIdCol))
    else Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteImpl(this, spark, table, snapshot, tracking, info)
}

private[sources] final class GraftDeltaWriteImpl(
    op: GraftRowLevelOperation,
    spark: SparkSession,
    table: GraftTable,
    snapshot: Snapshot,
    tracking: Boolean,
    info: LogicalWriteInfo)
  extends DeltaWriteBuilder with DeltaWrite with DeltaBatchWrite
  with RequiresDistributionAndOrdering {

  private val dataStagingRel = s"_staging/rlod-${UUID.randomUUID()}"
  private val marksStagingRel = s"_staging/rlom-${UUID.randomUUID()}"
  // a DELETE's rows carry only their row id, no data columns: there is
  // nothing to cluster by and nothing to write but marks
  private val partCols = {
    val pc = snapshot.partitionColumns
    if (pc.forall(info.schema().fieldNames.contains)) pc else Nil
  }

  override def build(): DeltaWrite = this
  override def toBatch: DeltaBatchWrite = this
  override def description(): String =
    s"GraftDeltaWrite(${table.path}, v${snapshot.version})"

  /** Inserts/post-images cluster+sort by the partition columns so the
    * inner data writer streams one open file per partition group;
    * delete rows carry null data columns and cluster harmlessly.
    */
  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(partCols.map(c =>
      Expressions.column(c): org.apache.spark.sql.connector.expressions.Expression).toArray)
  override def requiredOrdering(): Array[SortOrder] =
    partCols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  override def distributionStrictlyRequired(): Boolean = false

  override def createBatchWriterFactory(
      pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val schema = info.schema()
    val partOrds = partCols.map(schema.fieldIndex).toArray
    val dataOrds = schema.fields.indices.filterNot(partOrds.contains).toArray
    val fileSchema = StructType(
      dataOrds.map(i => StructField(
        snapshot.physicalName(schema.fields(i).name),
        schema.fields(i).dataType, schema.fields(i).nullable)).toSeq ++
        (if (tracking) Seq(StructField(table.RowIdCol, LongType)) else Nil))
    val (factory, conf) = ParquetShim.prepareParquetWrite(spark, fileSchema)
    val serConf = new SerializableHadoopConf(conf)
    val ext = ParquetShim.fileExtension(factory, conf)
    val rootAbs = new java.io.File(table.path).getAbsolutePath
    val inner = GraftRloWriterFactory(
      rootAbs + "/" + dataStagingRel, factory, serConf, ext, fileSchema,
      schema.fields.map(_.dataType), partOrds, partCols.toArray, dataOrds,
      tracking, rowIdMetaOrd = if (tracking) 0 else -1,
      spark.sessionState.conf.sessionLocalTimeZone)
    val marksSchema = StructType(Seq(StructField("file_path", StringType),
      StructField("row_index", LongType)))
    val (mFactory, mConf) = ParquetShim.prepareParquetWrite(spark, marksSchema)
    // the deletion-vector mask keys on the SCAN-TIME absolute URI of
    // the data file (what `_metadata.file_path` renders); the scan's
    // row id carries the log-relative path, and tasks derive the URI
    // from (table root, rel) — shipping only the root string, never a
    // candidate-file-scaled map in the task closure
    GraftDeltaWriterFactory(inner, rootAbs,
      rootAbs + "/" + marksStagingRel, mFactory,
      new SerializableHadoopConf(mConf), ext, marksSchema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val scan = op.mainScan
    val ms = messages.collect { case m: GraftDeltaCommitMessage => m }
    table.rowLevelCommitDelta(snapshot, op.command.toString,
      dataStagingRel, marksStagingRel,
      if (scan == null) Set.empty else scan.files.map(_.path).toSet,
      ms.flatMap(_.dataRels).toSet, ms.flatMap(_.markRels).toSet)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    table.rowLevelAbort(dataStagingRel)
    table.rowLevelAbort(marksStagingRel)
  }
}

private[sources] final case class GraftDeltaCommitMessage(
    dataRels: Seq[String], markRels: Seq[String]) extends WriterCommitMessage

private[sources] final case class GraftDeltaWriterFactory(
    inner: GraftRloWriterFactory,
    tableRootAbs: String,
    marksStagingAbs: String,
    marksFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    marksConf: SerializableHadoopConf,
    ext: String,
    marksSchema: StructType) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dataWriter = inner.createWriter(partitionId, taskId)
      private var marksWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private val marksRel =
        f"part-$partitionId%05d-${UUID.randomUUID().toString}$ext"

      private def mark(id: InternalRow): Unit = {
        if (marksWriter == null)
          marksWriter = ParquetShim.newTaskWriter(marksFactory,
            marksConf.value, s"$marksStagingAbs/$marksRel", marksSchema,
            partitionId)
        val rel = id.getUTF8String(0).toString
        // same rendering the driver's scan listing produces for
        // `_metadata.file_path` (hadoop Path over the file URI)
        val abs = if (rel.startsWith("/")) rel else s"$tableRootAbs/$rel"
        val uri = new org.apache.hadoop.fs.Path(
          new java.io.File(abs).toURI).toString
        val out = new GenericInternalRow(2)
        out.update(0, UTF8String.fromString(uri))
        out.update(1, id.getLong(1))
        marksWriter.write(out)
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = mark(id)

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        mark(id)
        dataWriter.write(meta, row)
      }

      override def reinsert(meta: InternalRow, row: InternalRow): Unit =
        dataWriter.write(meta, row)

      override def insert(row: InternalRow): Unit =
        dataWriter.write(null, row)

      override def commit(): WriterCommitMessage = {
        val wroteMarks = marksWriter != null
        if (marksWriter != null) { marksWriter.close(); marksWriter = null }
        val dataMsg = dataWriter.commit() match {
          case m: GraftRloCommitMessage => m.rels
          case _ => Nil
        }
        GraftDeltaCommitMessage(dataMsg,
          if (wroteMarks) Seq(marksRel) else Nil)
      }

      override def abort(): Unit = {
        if (marksWriter != null) { marksWriter.close(); marksWriter = null }
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$marksStagingAbs/$marksRel"))
        dataWriter.abort()
      }

      override def close(): Unit = {
        if (marksWriter != null) { marksWriter.close(); marksWriter = null }
        dataWriter.close()
      }
    }
}
