package graft.sources

import scala.collection.mutable

import graft.lake.{AddFile, GraftTable, Snapshot}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.{ParquetShim, StreamShim}
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file index under every GraftLake table scan: `files` of
  * `snapshot`, taken from the transaction log instead of a directory
  * listing. File statuses (qualified data path, size, modification
  * time) and typed partition values come from each file's [[AddFile]];
  * building the index makes no filesystem call and starts no Spark
  * job, whatever the file count.
  *
  * `listFiles` selects files at planning: the pushed partition and
  * data filters run through the table's file selector
  * ([[GraftTable.selectFiles]]), then partition filters apply exactly,
  * as `InMemoryFileIndex` applies them. Equality is over the scanned
  * file set, as `InMemoryFileIndex`'s root-path equality is, so two
  * reads of the same files share a cached plan.
  *
  * The index also names what it scans — [[table]], [[snapshot]],
  * [[files]] — which is how the stats-aggregate and MV rewrite rules
  * identify a GraftLake scan.
  */
private[graft] final class GraftFileIndex private (
    val table: GraftTable,
    val snapshot: Snapshot,
    val files: Seq[AddFile],
    override val partitionSchema: StructType) extends FileIndex {

  private val statuses: Seq[FileStatus] = {
    val fs = new Path(table.path).getFileSystem(
      table.spark.sparkContext.hadoopConfiguration)
    files.map(f => new FileStatus(f.size, false, 0, 0L, f.modificationTime,
      fs.makeQualified(new Path(table.dataPath(f.path)))))
  }

  /** One directory per distinct partition value tuple of `entries`, in
    * first-seen file order.
    */
  private def directories(entries: Seq[(AddFile, FileStatus)]): Seq[PartitionDirectory] = {
    val tz = table.spark.sessionState.conf.sessionLocalTimeZone
    val groups = mutable.LinkedHashMap[Seq[Option[String]], mutable.Buffer[FileStatus]]()
    entries.foreach { case (f, st) =>
      groups.getOrElseUpdate(partitionSchema.fieldNames.toSeq.map(f.partitionValues.get),
        mutable.Buffer()) += st
    }
    groups.toSeq.map { case (vals, sts) =>
      PartitionDirectory(
        InternalRow.fromSeq(vals.zip(partitionSchema.fields).map { case (v, pf) =>
          GraftFileIndex.partitionValue(v, pf.dataType, tz) }),
        sts.toSeq.map(FileStatusWithMetadata(_)))
    }
  }

  /** Whether this index scans exactly `s`'s active file set. */
  def covers(s: Snapshot): Boolean =
    files.map(_.path).toSet == s.activeFiles.map(_.path).toSet

  override lazy val rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = table.selectFiles(snapshot, files, partitionFilters ++ dataFilters)
      .map(_.path).toSet
    val dirs = directories(files.zip(statuses).filter { case (f, _) => kept(f.path) })
    val names = partitionSchema.fieldNames
    val pruning = partitionFilters.filter(_.references.forall(a => names.contains(a.name)))
    if (pruning.isEmpty) dirs
    else {
      val pred = Predicate.createInterpreted(pruning.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      dirs.filter(p => pred.eval(p.values))
    }
  }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.size).sum

  private lazy val pathSet = rootPaths.toSet

  override def equals(o: Any): Boolean = o match {
    case g: GraftFileIndex => pathSet == g.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

private[graft] object GraftFileIndex {

  /** The scan of `files` of `s` in `readSchema` (physical names): one
    * parquet `LogicalRelation` over a [[GraftFileIndex]], its columns
    * in `readSchema`'s order, data columns all nullable. The data
    * schema keeps the partition columns in place: Spark lays a
    * relation out with partition columns last unless its data schema
    * names them, and then fills them from the partition values, not
    * the files — so a partitioned table reads in the log's column
    * order with or without deletion vectors.
    */
  def scan(table: GraftTable, s: Snapshot, files: Seq[AddFile],
      readSchema: StructType): DataFrame = {
    val partNames = s.partitionColumns.map(s.physicalName)
    val partitionSchema = StructType(partNames.flatMap(n => readSchema.find(_.name == n)))
    val index = new GraftFileIndex(table, s, files, partitionSchema)
    StreamShim.ofRows(table.spark, LogicalRelation(HadoopFsRelation(index,
      partitionSchema, ParquetShim.asNullable(readSchema), None, new ParquetFileFormat(),
      Map.empty)(table.spark)))
  }

  /** One log partition string typed to `dt`, as Spark's directory
    * inference types a partition column the read schema declares: a
    * cast under the session time zone. The Hive default marker and an
    * absent value read as null. A date stored as its epoch day (how
    * Iceberg attaches once stored it) reads as that day.
    * [[graft.lake.Pruning]] types partition values by this function too.
    */
  def partitionValue(v: Option[String], dt: DataType, timeZone: String): Any =
    v.filter(_ != ParquetShim.defaultPartitionName).map {
      case s if dt == DateType && s.toIntOption.isDefined => s.toInt
      case s => Cast(Literal(UTF8String.fromString(s), StringType), dt,
        Some(timeZone)).eval()
    }.orNull

  /** A non-null internal value of a `dt` partition column in directory
    * form, the string Spark's writer names its directory with and
    * [[partitionValue]] types back: dates as `yyyy-MM-dd`, timestamps
    * as wall time in `timeZone`.
    */
  def directoryValue(v: Any, dt: DataType, timeZone: String): String =
    Cast(Literal(v, dt), StringType, Some(timeZone)).eval().toString
}
