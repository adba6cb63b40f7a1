package graft.sources

import java.util.UUID

import graft.lake.{AddFile, GraftTable, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Native `SupportsRowLevelOperations` implementation: Spark's own
  * UPDATE / MERGE / subquery-DELETE rewrites (group-based
  * copy-on-write) plan against this operation, so `EXPLAIN` shows the
  * v2 `ReplaceData` plan instead of an opaque command — auditors,
  * lineage collectors and plan-inspecting tools see the real row-level
  * surface (round-10 top candidate; the parser interception previously
  * filling this gap is gone).
  *
  * Scale shape, mirroring Delta/Iceberg's CoW design at 100 TB:
  *  - the scan starts from the stats/partition-pruned candidate set
  *    (the pushed command condition drives the same file skipping as
  *    the DataFrame DML paths), then Spark's runtime GROUP FILTER
  *    narrows it to exactly the files holding matching rows via an
  *    IN-subquery on the `_graft_file` metadata column — an unmatched
  *    100 GB candidate file is never rewritten;
  *  - each file reads through Spark's own parquet reader (predicate
  *    machinery, null-fill for absent columns, row-index generation)
  *    with deletion-vector masks applied per file and row-tracking ids
  *    resolved per row — all executor-side, no driver data traffic;
  *  - replacement rows write through per-task parquet writers clustered
  *    and sorted by the partition columns (one open file per task), and
  *    the driver commits removes+adds in ONE optimistic log commit with
  *    the standard conflict detection.
  */
class GraftRowLevelOperation(
    spark: SparkSession,
    table: GraftTable,
    override val command: Command) extends RowLevelOperation {

  /** Pinned at operation construction so the scan, the group filter
    * and the commit's conflict check all speak about one version.
    */
  val snapshot: Snapshot = table.snapshot
  protected val tracking: Boolean = table.rowLevelTrackingOn(snapshot)

  /** The first scan built is the MAIN rewrite scan (Spark plans the
    * command's read before the runtime-group-filter subquery exists);
    * later builders serve the group-filter subquery and must not
    * disturb the file set the write will replace.
    */
  @volatile private[sources] var mainScan: GraftRowLevelScan = _

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (tracking)
      Array(Expressions.column(GraftRowLevel.FileCol),
        Expressions.column(table.RowIdCol))
    else Array(Expressions.column(GraftRowLevel.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, spark, table, snapshot, tracking)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftRowLevelWrite(this, spark, table, snapshot, tracking, info)

  private[sources] def registerScan(scan: GraftRowLevelScan): Unit =
    synchronized { if (mainScan == null) mainScan = scan }
}

private[sources] object GraftRowLevel {
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"
}

private[sources] final class GraftRowLevelScanBuilder(
    op: GraftRowLevelOperation,
    spark: SparkSession,
    table: GraftTable,
    snapshot: Snapshot,
    tracking: Boolean)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = snapshot.schema

  // filters drive candidate-FILE skipping only; report every filter
  // back as residual so Spark keeps exact row semantics above the scan
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters; filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (requiredSchema.isEmpty) StructType(snapshot.schema.fields.take(1))
      else requiredSchema

  override def build(): Scan = {
    val cond = pushed.flatMap(GraftFilters.toColumn).reduceOption(_ && _)
    val candidates = cond.fold(snapshot.activeFiles)(
      table.candidates(snapshot, snapshot.activeFiles, _))
    val scan = new GraftRowLevelScan(spark, table, snapshot, tracking,
      required, candidates)
    op.registerScan(scan)
    scan
  }
}

/** One InputPartition per candidate-file SPLIT: everything the
  * executor-side reader needs travels as plain serializable values —
  * absolute path + (start, length) byte range + file size for the
  * parquet reader, the log-relative path (the group key `_graft_file`
  * emits), the row-tracking base id, and the typed partition-column
  * values evaluated once on the driver with
  * [[GraftFileIndex.partitionValue]] (the table scan's typing). Files
  * larger than the session's maxPartitionBytes split into byte ranges
  * (the parquet reader assigns a row group to the split holding its
  * midpoint, and the row INDEX it generates is file-absolute — DV
  * masks and row-id bases stay exact across splits), so one huge
  * candidate file never caps the rewrite's read parallelism.
  */
private[sources] final case class GraftRloPartition(
    abs: String, start: Long, length: Long, size: Long, rel: String,
    baseRowId: Option[Long], partVals: Array[Any]) extends InputPartition

private[sources] final class GraftRowLevelScan(
    spark: SparkSession,
    table: GraftTable,
    snapshot: Snapshot,
    tracking: Boolean,
    required: StructType,
    candidates: Seq[AddFile])
  extends Scan with Batch with SupportsRuntimeV2Filtering {

  /** Current planned file set; Spark's runtime group filter narrows it
    * and the write's commit removes exactly this set.
    */
  @volatile private[sources] var files: Seq[AddFile] = candidates

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRowLevelScan(${table.path}, v${snapshot.version})"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileCol))

  /** The runtime group filter is load-bearing for the COMMIT, not just
    * an optimization: the same IN-subquery also filters rows above the
    * scan, so a file this parse failed to drop would be removed from
    * the log while its rows were filtered out of the replacement —
    * data loss. Unparseable shapes therefore refuse loudly.
    */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    val kept = predicates.foldLeft(files) { (fs, p) =>
      extractFileValues(p) match {
        case Some(values) => fs.filter(f => values.contains(f.path))
        case None => throw new IllegalStateException(
          s"unrecognized runtime group filter on ${GraftRowLevel.FileCol}: $p")
      }
    }
    files = kept
  }

  private def extractFileValues(p: V2Predicate): Option[Set[String]] = {
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference =>
          r.fieldNames().sameElements(Array(GraftRowLevel.FileCol))
        case _ => false
      }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case l: V2Literal[_] => Some(String.valueOf(l.value()))
        case _ => None
      }
    p.name() match {
      case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
        val vs = p.children().drop(1).map(lit)
        if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
      case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
        lit(p.children()(1)).map(Set(_))
      case _ => None
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val partCols = snapshot.partitionColumns
    val partFields = required.fields.filter(f => partCols.contains(f.name))
    val maxSplit =
      math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    files.flatMap { f =>
      // typed partition values, once per file on the driver — the same
      // typing the table scan's file index gives them
      val vals: Array[Any] = partFields.map(pf => GraftFileIndex.partitionValue(
        f.partitionValues.get(snapshot.physicalName(pf.name)), pf.dataType, tz))
      val abs = table.dataPath(f.path)
      (0L until f.size by maxSplit).map { start =>
        GraftRloPartition(abs, start, math.min(maxSplit, f.size - start),
          f.size, f.path, f.baseRowId, vals): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val partCols = snapshot.partitionColumns
    // classify each output field: data column read from parquet,
    // partition constant, the file group key, or the resolved row id
    val dataFields = required.fields.filter(f =>
      !partCols.contains(f.name) && f.name != GraftRowLevel.FileCol &&
        f.name != GraftRowLevel.PosCol && f.name != table.RowIdCol)
    val needIdx = tracking || snapshot.dvFiles.nonEmpty ||
      required.fieldNames.contains(GraftRowLevel.PosCol)
    val parquetFields =
      dataFields.map(f => StructField(snapshot.physicalName(f.name),
        f.dataType, f.nullable)) ++
        (if (tracking) Seq(StructField(table.RowIdCol, LongType)) else Nil) ++
        (if (needIdx) Seq(StructField(ParquetShim.rowIndexColumn, LongType))
         else Nil)
    val rowIdOrd = if (tracking) dataFields.length else -1
    val rowIdxOrd =
      if (needIdx) dataFields.length + (if (tracking) 1 else 0) else -1
    // file-resident columns: the physical schema minus partition
    // columns (those live in directory names / the log, injected as
    // constants here), plus the materialized row-id column rewritten
    // files carry (absent in fresh files — reads as null)
    val dataSchema = StructType(
      snapshot.schema.fields.zip(snapshot.physicalSchema.fields)
        .collect { case (lf, pf) if !partCols.contains(lf.name) => pf } ++
        (if (tracking) Seq(StructField(table.RowIdCol, LongType)) else Nil))
    // output assembly program: kind 0=data(parquet ordinal),
    // 1=partition(partVals ordinal), 2=file key, 3=row id,
    // 4=row position within the file (the delta-write row-id half)
    var di = 0
    var pi = 0
    val kinds = new Array[Int](required.fields.length)
    val ords = new Array[Int](required.fields.length)
    required.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.name == GraftRowLevel.FileCol) { kinds(i) = 2; ords(i) = 0 }
      else if (f.name == GraftRowLevel.PosCol) { kinds(i) = 4; ords(i) = 0 }
      else if (f.name == table.RowIdCol) { kinds(i) = 3; ords(i) = 0 }
      else if (partCols.contains(f.name)) { kinds(i) = 1; ords(i) = pi; pi += 1 }
      else { kinds(i) = 0; ords(i) = di; di += 1 }
    }
    val types = required.fields.map(_.dataType)
    // no filters reach the parquet reader: record-level parquet
    // filtering (when enabled) would DROP non-matching rows of
    // candidate files from the rewrite — the group's unmatched rows
    // must be copied, not filtered
    val readFn = ParquetShim.buildRowReader(spark, dataSchema,
      StructType(parquetFields), Nil)
    val dvSchema = StructType(Seq(StructField("file_path", StringType),
      StructField("row_index", LongType)))
    val dvReadFn =
      if (snapshot.dvFiles.isEmpty) null
      else ParquetShim.buildRowReader(spark, dvSchema, dvSchema, Nil)
    // a DV sidecar commit is a parquet DIRECTORY — expand to its part
    // files here (driver metadata walk) so tasks open real files; the
    // footer min/max of the file_path key rides along so each reader
    // opens ONLY sidecars whose key range can cover its file (sidecars
    // grow with uncompacted deletes — unpruned, every split would scan
    // them all). A sidecar without stats is kept unconditionally.
    val dvParts = snapshot.dvFiles.flatMap { rel =>
      val abs = java.nio.file.Paths.get(table.dataPath(rel))
      val walk = java.nio.file.Files.walk(abs)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith("."))
          .map(p => (p.toString, java.nio.file.Files.size(p))).toList
      } finally walk.close()
    }
    val dvStats =
      if (dvParts.isEmpty) Map.empty[String, graft.lake.FileStats]
      else graft.lake.Stats.collect(spark, dvParts.map(_._1))
    val dvFiles = dvParts.map { case (abs, size) =>
      val st = dvStats.get(abs)
      (abs, size, st.flatMap(_.minValues.get("file_path")),
        st.flatMap(_.maxValues.get("file_path")))
    }
    GraftRloReaderFactory(readFn, dvReadFn, dvFiles, kinds, ords, types,
      rowIdOrd, rowIdxOrd)
  }
}

private[sources] final case class GraftRloReaderFactory(
    readFn: (String, Long, Long, Long) => Iterator[InternalRow],
    dvReadFn: (String, Long, Long, Long) => Iterator[InternalRow],
    dvFiles: Seq[(String, Long, Option[String], Option[String])],
    kinds: Array[Int], ords: Array[Int], types: Array[DataType],
    rowIdOrd: Int, rowIdxOrd: Int) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftRloPartition]
    new PartitionReader[InternalRow] {
      // deletion-vector mask for THIS file: sidecar rows key on the
      // scan-time file path — match on the unambiguous log-path suffix
      // (file names carry writer UUIDs; the row-tracking resolve
      // depends on the same per-table uniqueness)
      private val dvSet: java.util.HashSet[Long] =
        if (dvReadFn == null) null
        else {
          val suffix = "/" + part.rel.stripPrefix("/")
          // the exact key the sidecar writers stored (scan-time URI);
          // footer ranges prune whole sidecars, suffix matching stays
          // the row-level test (robust to any historical rendering)
          val key = new org.apache.hadoop.fs.Path(
            new java.io.File(part.abs).toURI).toString
          val s = new java.util.HashSet[Long]()
          dvFiles.foreach { case (abs, len, minFp, maxFp) =>
            val prunable = minFp.isDefined && maxFp.isDefined &&
              (key < minFp.get || key > maxFp.get)
            if (!prunable) {
              val it = dvReadFn(abs, 0L, len, len)
              while (it.hasNext) {
                val r = it.next()
                if (!r.isNullAt(0) &&
                    r.getUTF8String(0).toString.endsWith(suffix))
                  s.add(r.getLong(1))
              }
            }
          }
          s
        }
      private val it = readFn(part.abs, part.start, part.length, part.size)
      private val fileKey = UTF8String.fromString(part.rel)
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          val idx = if (rowIdxOrd >= 0) r.getLong(rowIdxOrd) else -1L
          if (dvSet == null || !dvSet.contains(idx)) {
            val out = new GenericInternalRow(kinds.length)
            var i = 0
            while (i < kinds.length) {
              val v: Any = kinds(i) match {
                case 0 =>
                  if (r.isNullAt(ords(i))) null else r.get(ords(i), types(i))
                case 1 => part.partVals(ords(i))
                case 2 => fileKey
                case 4 => idx
                case _ => // resolved row id: materialized, else base+idx
                  if (rowIdOrd >= 0 && !r.isNullAt(rowIdOrd)) r.getLong(rowIdOrd)
                  else part.baseRowId match {
                    case Some(b) if idx >= 0 => b + idx
                    case _ => null
                  }
              }
              out.update(i, v)
              i += 1
            }
            current = out
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Serializable Hadoop Configuration carrier (the write factory ships
  * the prepared parquet job conf to tasks).
  */
private[sources] final class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

private[sources] final case class GraftRloCommitMessage(rels: Seq[String])
  extends WriterCommitMessage

private[sources] final class GraftRowLevelWrite(
    op: GraftRowLevelOperation,
    spark: SparkSession,
    table: GraftTable,
    snapshot: Snapshot,
    tracking: Boolean,
    info: LogicalWriteInfo)
  extends WriteBuilder with Write with BatchWrite
  with RequiresDistributionAndOrdering {

  private val stagingRel = s"_staging/rlo-${UUID.randomUUID()}"
  private val partCols = snapshot.partitionColumns

  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"GraftRowLevelWrite(${table.path}, v${snapshot.version})"

  /** Cluster + sort replacement rows by the partition columns so each
    * task streams partition groups contiguously through ONE open
    * parquet writer — the shape Spark's own dynamic-partition writers
    * require at scale.
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
      pInfo: PhysicalWriteInfo): DataWriterFactory = {
    val schema = info.schema()
    val partOrds = partCols.map(schema.fieldIndex).toArray
    val dataOrds = schema.fields.indices.filterNot(partOrds.contains).toArray
    val fileSchema = StructType(
      dataOrds.map(i => StructField(
        snapshot.physicalName(schema.fields(i).name),
        schema.fields(i).dataType, schema.fields(i).nullable)).toSeq ++
        (if (tracking) Seq(StructField(table.RowIdCol, LongType)) else Nil))
    val (factory, conf) = ParquetShim.prepareParquetWrite(spark, fileSchema)
    val ext = ParquetShim.fileExtension(factory, conf)
    GraftRloWriterFactory(
      new java.io.File(table.path).getAbsolutePath + "/" + stagingRel,
      factory, new SerializableHadoopConf(conf), ext, fileSchema,
      schema.fields.map(_.dataType), partOrds,
      partCols.toArray, dataOrds, tracking,
      // meta row layout: (_graft_file[, _graft_row_id])
      rowIdMetaOrd = if (tracking) 1 else -1,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val scan = op.mainScan
    require(scan != null,
      "row-level write committed without a planned scan")
    // only files the committed task attempts reported absorb — a
    // failed-then-retried attempt's staged orphans must not double rows
    val committed = messages.collect {
      case m: GraftRloCommitMessage => m.rels
    }.flatten.toSet
    table.rowLevelCommitReplace(snapshot, op.command.toString, stagingRel,
      scan.files, committed)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    table.rowLevelAbort(stagingRel)
}

private[sources] final case class GraftRloWriterFactory(
    stagingAbs: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableHadoopConf,
    ext: String,
    fileSchema: StructType,
    inTypes: Array[DataType],
    partOrds: Array[Int],
    partCols: Array[String],
    dataOrds: Array[Int],
    tracking: Boolean,
    rowIdMetaOrd: Int,
    timeZone: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val uuid = UUID.randomUUID().toString
      private var seq = 0
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private val rels = scala.collection.mutable.ArrayBuffer[String]()

      // COLUMNAR-SHAPE HOT PATH: the output row is produced by a
      // CODEGEN'D UnsafeProjection compiled once per task (the same
      // machinery Spark's own FileFormatWriter runs) instead of a
      // per-row GenericInternalRow with one boxed `get` per column —
      // a 100 TB CoW rewrite is write-dominated, and per-row
      // allocation + boxing on every column was the measurable cost.
      // With row tracking the projection reads through a JoinedRow
      // (meta fields first), pulling the row id straight from the
      // metadata row.
      private val metaArity = if (tracking) rowIdMetaOrd + 1 else 0
      private val proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = {
        import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
        val dataRefs = dataOrds.toSeq.map(o =>
          BoundReference(metaArity + o, inTypes(o), nullable = true))
        val refs =
          if (tracking)
            dataRefs :+ BoundReference(rowIdMetaOrd, LongType, nullable = true)
          else dataOrds.toSeq.map(o =>
            BoundReference(o, inTypes(o), nullable = true))
        UnsafeProjection.create(refs)
      }
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      // substitute for a missing/short metadata row (plain inserts):
      // only rowIdMetaOrd is ever read by the projection
      private val paddedMeta = new GenericInternalRow(metaArity)

      // dates and timestamps render as Spark's writer names their
      // directories (Cast to string under the session zone), so
      // sub-second partition values keep their '.SSSSSS' micros and
      // round-trip through the scan's typing bit-exactly; a
      // seconds-precision or other-zone rendering here would silently
      // MOVE rows to another partition value on rewrite
      private def render(v: Any, dt: DataType): String = dt match {
        case _ if v == null => ParquetShim.defaultPartitionName
        case DateType | TimestampType | TimestampNTZType =>
          GraftFileIndex.directoryValue(v, dt, timeZone)
        case _ => String.valueOf(v)
      }

      // partition-group detection on RAW values (input arrives
      // clustered+sorted by the partition columns, so the directory
      // fragment renders once per group — the per-row StringBuilder +
      // escape of the previous shape was pure overhead). UTF8String
      // values are cloned on store: readers reuse row buffers, and a
      // stored view could mutate underneath the comparison.
      private val partVals = new Array[Any](partOrds.length)
      private var havePartition = false

      private def partitionChanged(row: InternalRow): Boolean = {
        if (partOrds.isEmpty) return writer == null
        var changed = !havePartition
        var i = 0
        while (i < partOrds.length) {
          val o = partOrds(i)
          val v = if (row.isNullAt(o)) null else row.get(o, inTypes(o))
          if (changed || !java.util.Objects.equals(v, partVals(i))) {
            changed = true
            partVals(i) = v match {
              case s: UTF8String => s.clone()
              case other => other
            }
          }
          i += 1
        }
        havePartition = true
        changed
      }

      private def fragmentOf(): String = {
        if (partOrds.isEmpty) return ""
        val sb = new StringBuilder
        var i = 0
        while (i < partOrds.length) {
          val raw = partVals(i)
          val s = render(raw, inTypes(partOrds(i)))
          sb.append(ParquetShim.escapePathName(partCols(i))).append('=')
            .append(if (raw == null) s else ParquetShim.escapePathName(s))
            .append('/')
          i += 1
        }
        sb.toString
      }

      private def open(fragment: String): Unit = {
        val rel = f"${fragment}part-$partitionId%05d-$seq%03d-$uuid$ext"
        seq += 1
        writer = ParquetShim.newTaskWriter(factory, conf.value,
          s"$stagingAbs/$rel", fileSchema, partitionId)
        rels += rel
      }

      override def write(row: InternalRow): Unit = writeWith(null, row)
      override def write(meta: InternalRow, row: InternalRow): Unit =
        writeWith(meta, row)

      private def writeWith(meta: InternalRow, row: InternalRow): Unit = {
        if (partitionChanged(row)) {
          if (writer != null) writer.close()
          open(fragmentOf())
        } else if (writer == null) open(fragmentOf())
        val out =
          if (!tracking) proj(row)
          else {
            val m =
              if (meta != null && meta.numFields == metaArity) meta
              else {
                paddedMeta.update(rowIdMetaOrd,
                  if (meta == null || rowIdMetaOrd >= meta.numFields ||
                    meta.isNullAt(rowIdMetaOrd)) null
                  else java.lang.Long.valueOf(meta.getLong(rowIdMetaOrd)))
                paddedMeta
              }
            proj(joined(m, row))
          }
        writer.write(out)
      }

      override def commit(): WriterCommitMessage = {
        if (writer != null) { writer.close(); writer = null }
        GraftRloCommitMessage(rels.toSeq)
      }

      override def abort(): Unit = {
        if (writer != null) { writer.close(); writer = null }
        rels.foreach { rel =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$stagingAbs/$rel"))
          ()
        }
      }

      override def close(): Unit =
        if (writer != null) { writer.close(); writer = null }
    }
}
