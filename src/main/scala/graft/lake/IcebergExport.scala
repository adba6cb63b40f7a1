package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-snapshot Apache Iceberg v2 metadata EXPORT (L105) — the other
  * half of external interop beside the symlink manifest (L77/L100):
  * the manifest covers DuckDB/Trino-via-Hive; Iceberg metadata
  * unlocks native Iceberg readers (Trino, Snowflake, DuckDB's iceberg
  * extension, pyiceberg). Everything written follows the PUBLIC
  * Iceberg table spec (iceberg.apache.org/spec, format-version 2):
  * `v<N>.metadata.json` + `version-hint.text` (the HadoopCatalog
  * resolution protocol), an Avro manifest LIST, and Avro manifests
  * whose schemas carry the spec's field-ids (500-517 manifest-list,
  * 0-4/100-134 manifest-entry) so id-based readers resolve them.
  *
  * Two deliberate design points:
  *
  * 1. **Deletion vectors export as native position-delete files.**
  *    GraftLake's DV sidecar rows are exactly Iceberg's reserved
  *    position-delete schema — (file_path: 2147483546, pos:
  *    2147483545) — so merge-on-read debt maps 1:1 onto Iceberg v2
  *    MoR: masked files stay listed as data, and a content=1 delete
  *    manifest (sequence number above the data manifest's, so the
  *    deletes apply) lists spec-sorted position-delete parquet. No
  *    rewrite of masked data at all — the export is O(#files + DV
  *    rows), strictly cheaper than manifest MATERIALIZE's O(masked
  *    data), and the one state the symlink manifest cannot express
  *    without materializing.
  * 2. **Field ids come from a name mapping.** GraftLake parquet
  *    carries no Iceberg field-id metadata, the same situation as any
  *    Hive-migrated table, so the export writes the spec's
  *    `schema.name-mapping.default` property (physical parquet name →
  *    field id) — exactly what Iceberg's own `add_files`/migrate
  *    procedures emit. Identity-partitioned columns are absent from
  *    the data files and resolve as partition-struct constants, again
  *    the standard migrated-table shape.
  *
  * Scale: the export is driver-side metadata (O(#files) manifest
  * entries, the generateManifest class) plus one bounded Spark job
  * over the DV sidecars (O(DV rows), range-partitioned ~4M rows per
  * delete file, sorted within files as the spec requires). Repeated
  * exports keep prior `_deletes/v<M>/` rewrites for
  * `graft.manifest.exportRetentionHours` (default 168h) so an
  * external reader holding the previous metadata keeps a consistent
  * view — the same retention contract the symlink manifest's
  * materialized exports follow.
  */
object IcebergExport {

  final case class ExportResult(
      metadataFile: String,
      manifestList: String,
      manifests: Seq[String],
      dataFiles: Int,
      deleteFiles: Int,
      deleteRows: Long)

  private val mapper = new ObjectMapper()

  /** Iceberg primitive name for a Spark type; None = unsupported. */
  private def icebergPrimitive(dt: DataType): Option[String] = dt match {
    case LongType => Some("long")
    case IntegerType | ShortType | ByteType => Some("int")
    case StringType => Some("string")
    case DoubleType => Some("double")
    case FloatType => Some("float")
    case BooleanType => Some("boolean")
    case DateType => Some("date")
    case TimestampType => Some("timestamptz")
    case TimestampNTZType => Some("timestamp")
    case BinaryType => Some("binary")
    case d: DecimalType => Some(s"decimal(${d.precision}, ${d.scale})")
    case _ => None
  }

  /** Preorder field-id assignment (top-level fields first, then
    * nested), the convention Iceberg's own schema conversion uses.
    * Returns (schema node, name-mapping node, topLevelIds, lastId).
    */
  private def buildSchema(schema: StructType)
      : (ObjectNode, ArrayNode, Map[String, Int], Int) = {
    var nextId = 0
    def alloc(): Int = { nextId += 1; nextId }
    val topIds = schema.fields.map(f => f.name -> alloc()).toMap

    def typeNode(dt: DataType): Object = dt match {
      case st: StructType =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val fields = n.putArray("fields")
        val ids = st.fields.map(f => f.name -> alloc()).toMap
        st.fields.foreach { f =>
          val fn = fields.addObject()
          fn.put("id", ids(f.name))
          fn.put("name", f.name)
          fn.put("required", !f.nullable)
          fn.putPOJO("type", typeNode(f.dataType))
          ()
        }
        n
      case at: ArrayType =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", alloc())
        n.putPOJO("element", typeNode(at.elementType))
        n.put("element-required", !at.containsNull)
        n
      case p => icebergPrimitive(p).getOrElse(throw new
          UnsupportedOperationException(
            s"Iceberg export does not support Spark type ${p.simpleString}"))
    }

    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", 0)
    val fields = root.putArray("fields")
    schema.fields.foreach { f =>
      val fn = fields.addObject()
      fn.put("id", topIds(f.name))
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.putPOJO("type", typeNode(f.dataType))
      ()
    }
    // the name mapping covers top-level fields by their PHYSICAL
    // parquet names (column mapping renames are metadata-only; the
    // data files keep original names — the mapping bridges them, the
    // role colMap plays inside the engine)
    val nm = mapper.createArrayNode()
    (root, nm, topIds, nextId)
  }

  private def nameMapping(schema: StructType, topIds: Map[String, Int],
      physical: String => String): ArrayNode = {
    val nm = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val e = nm.addObject()
      e.put("field-id", topIds(f.name))
      e.putArray("names").add(physical(f.name))
      ()
    }
    nm
  }

  /** Avro type JSON fragment for a partition-struct field. */
  private def avroPartitionType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case StringType => "\"string\""
    case BooleanType => "\"boolean\""
    case DoubleType => "\"double\""
    case DateType => "{\"type\":\"int\",\"logicalType\":\"date\"}"
    case other => throw new UnsupportedOperationException(
      s"Iceberg export does not support a ${other.simpleString} " +
        "partition column")
  }

  /** Typed Avro value for a partition string from the log. */
  private def partitionValue(raw: String, dt: DataType): Object =
    if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case LongType => java.lang.Long.valueOf(raw)
      case IntegerType | ShortType | ByteType => Integer.valueOf(raw)
      case StringType => raw
      case BooleanType => java.lang.Boolean.valueOf(raw)
      case DoubleType => java.lang.Double.valueOf(raw)
      case DateType =>
        Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition type ${other.simpleString}")
    }

  private def manifestEntrySchema(partFields: String): Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104}
         |]}}]}""".stripMargin)

  private val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"partitions","field-id":507,"default":null,"type":["null",
      |{"type":"array","element-id":508,"items":{"type":"record","name":"r508","fields":[
      |{"name":"contains_null","type":"boolean","field-id":509},
      |{"name":"contains_nan","type":["null","boolean"],"default":null,"field-id":518},
      |{"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
      |{"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}
      |]}}]}]}""".stripMargin)

  /** The `file:/abs` URI rendering every artifact shares: DV sidecar
    * keys, Spark's `_metadata.file_path`, and now manifest/delete-file
    * paths — one representation, so path joins never miss.
    */
  private[lake] def fileUri(abs: String): String =
    new org.apache.hadoop.fs.Path(new java.io.File(abs).toURI).toString

  /** Write the sorted live position-delete pairs as ONE snappy parquet
    * part on the driver — same (file_path STRING, pos BIGINT) shape
    * the distributed writer produces. Returns the manifest-entry
    * triple (file URI, rows, bytes).
    */
  private def writeDeleteFileDriverSide(delDir: java.nio.file.Path,
      live: Seq[(String, Long)]): (String, Long, Long) = {
    if (Files.exists(delDir)) { // mode("overwrite") semantics
      val w = Files.walk(delDir)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    Files.createDirectories(delDir)
    val part = delDir.resolve("part-00000-driver.snappy.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message iceberg_delete { optional binary file_path (UTF8); " +
        "optional int64 pos; }")
    val conf = new org.apache.hadoop.conf.Configuration(Stats.hadoopConf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString), conf))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      live.foreach { case (fp, pos) =>
        val g = factory.newGroup()
        g.append("file_path", fp)
        g.append("pos", pos)
        writer.write(g)
      }
    } finally writer.close()
    Files.write(delDir.resolve("_SUCCESS"), Array.emptyByteArray)
    (fileUri(part.toAbsolutePath.normalize.toString), live.size.toLong,
      Files.size(part))
  }

  /** Spark StructType for an Iceberg schema JSON node — the exact
    * inverse of [[buildSchema]]'s type conversion (struct / list /
    * the spec's primitive names), used by the ATTACH direction
    * (L117) to seed a graft Metadata from foreign Iceberg metadata.
    * Maps (and primitives the export never emits) refuse loudly
    * rather than adopting a schema the engine would misread.
    */
  private[lake] def sparkSchemaOf(schemaJson: String): StructType = {
    val node = mapper.readTree(schemaJson)
    def primitive(name: String): DataType = name match {
      case "long" => LongType
      case "int" => IntegerType
      case "string" => StringType
      case "double" => DoubleType
      case "float" => FloatType
      case "boolean" => BooleanType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "binary" => BinaryType
      case d if d.startsWith("decimal(") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim)
        DecimalType(p.toInt, s.toInt)
      case other => throw new UnsupportedOperationException(
        s"cannot attach Iceberg type '$other' (no Spark equivalent here)")
    }
    def typeOf(t: com.fasterxml.jackson.databind.JsonNode): DataType =
      if (t.isTextual) primitive(t.asText())
      else t.get("type").asText() match {
        case "struct" => StructType(t.get("fields").elements().asScala.map {
          f => StructField(f.get("name").asText(), typeOf(f.get("type")),
            nullable = !f.get("required").asBoolean())
        }.toSeq)
        case "list" => ArrayType(typeOf(t.get("element")),
          containsNull = !t.get("element-required").asBoolean())
        case other => throw new UnsupportedOperationException(
          s"cannot attach Iceberg complex type '$other'")
      }
    typeOf(node).asInstanceOf[StructType]
  }

  private def writeAvro(schema: Schema, metaKv: Map[String, String],
      records: Seq[GenericRecord], dest: java.nio.file.Path): Long = {
    Files.createDirectories(dest.getParent)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    metaKv.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, dest.toFile)
    try records.foreach(w.append) finally w.close()
    Files.size(dest)
  }

  /** One snapshot's manifest artifacts (manifest list, data manifest,
    * optional position-delete manifest) for any (table, snapshot)
    * pair sharing the parent export's schema + partition spec — the
    * main table state and each exported BRANCH state (L113 refs) go
    * through this same writer, so a branch snapshot can never drift
    * from the spec the main one follows.
    */
  private final case class SnapArtifacts(
      manifestList: java.nio.file.Path,
      dataManifest: java.nio.file.Path,
      deleteManifest: Option[java.nio.file.Path],
      lastSeq: Long,
      nFiles: Int,
      delFileCount: Int,
      delRowCount: Long,
      dataRows: Long)

  private def writeSnapshotArtifacts(tt: GraftTable, ss: Snapshot,
      snapId: Long, metaDir: java.nio.file.Path,
      outRoot: java.nio.file.Path, entrySchema: Schema,
      partCols: Seq[String],
      partTypes: Map[String, DataType],
      manifestMeta: Map[String, String],
      seed: String, delSubdir: String): SnapArtifacts = {
    val spark = tt.spark
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    def entry(filePath: String, rows: Long, size: Long, seq: Long,
        content: Int, pv: Map[String, String]): GenericRecord = {
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", Integer.valueOf(content))
      df.put("file_path", filePath)
      df.put("file_format", "PARQUET")
      val pr = new GenericData.Record(partSchema)
      if (content == 0) partCols.foreach(c =>
        pr.put(c, partitionValue(pv.getOrElse(c, null), partTypes(c))))
      df.put("partition", pr)
      df.put("record_count", java.lang.Long.valueOf(rows))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(size))
      val e = new GenericData.Record(entrySchema)
      e.put("status", Integer.valueOf(1)) // ADDED
      e.put("snapshot_id", java.lang.Long.valueOf(snapId))
      e.put("sequence_number", java.lang.Long.valueOf(seq))
      e.put("file_sequence_number", java.lang.Long.valueOf(seq))
      e.put("data_file", df)
      e
    }
    // log partition keys may carry pre-rename (physical) names under
    // column mapping — rekey to the logical names the spec fields use
    val revMap = ss.colMap.map(_.swap)
    val dataEntries = ss.activeFiles.map { f =>
      val abs = Paths.get(tt.dataPath(f.path)).toAbsolutePath.normalize
      entry(fileUri(abs.toString),
        f.stats.map(_.numRecords).getOrElse(
          Stats.statsForFile(abs.toString).numRecords),
        f.size, seq = 1L, content = 0,
        f.partitionValues.map { case (k, v) => revMap.getOrElse(k, k) -> v })
    }
    val dataRows = ss.activeFiles.flatMap(_.stats.map(_.numRecords)).sum
    val dataManifest = metaDir.resolve(
      s"${java.util.UUID.nameUUIDFromBytes((seed + "data")
        .getBytes(StandardCharsets.UTF_8))}-m0.avro")
    val dataManifestLen =
      writeAvro(entrySchema, manifestMeta, dataEntries, dataManifest)

    // ---- position-delete rewrite + delete manifest (only with live
    // DVs): one bounded Spark job over the sidecars, range-partitioned
    // and sorted (file_path, pos) within each file per the spec
    val (deleteManifestOpt, delFileCount, delRowCount) =
      if (ss.dvFiles.isEmpty) (None, 0, 0L)
      else {
        val activeUris = ss.activeFiles
          .map(f => fileUri(
            Paths.get(tt.dataPath(f.path)).toAbsolutePath.normalize.toString))
        val delDir = outRoot.resolve("_deletes").resolve(delSubdir)
        // Small DV debt (the common per-commit case) rewrites on the
        // driver: stream the sidecars through parquet-hadoop, drop
        // masks for files rewritten out of the table, sort, and write
        // ONE delete file — zero Spark jobs. Above the size gate the
        // distributed semi-join + range-sorted write below handles the
        // GB-scale debt a 100 TB table can carry.
        val written: Seq[(String, Long, Long)] =
          DvSidecar.pairsUnderGate(spark, ss.dvFiles.map(tt.dataPath)) match {
            case Some(pairs) =>
              val activeSet = activeUris.toSet
              val live = pairs.filter(p => activeSet.contains(p._1))
                .distinct.sorted
              if (live.isEmpty) Nil
              else Seq(writeDeleteFileDriverSide(delDir, live))
            case None =>
              import spark.implicits._
              val activeDf = activeUris.toDF("file_path")
              val raw = DvSidecar.read(spark, ss.dvFiles.map(tt.dataPath))
                .select(col("file_path"), col("row_index").as("pos"))
                // sidecars can carry entries for files later rewritten
                // out of the table (partial ZORDER): export only live
                // masks. Broadcast semi-join on the O(#files) metadata
                // listing — never a literal IN-list (10^6 files at 100 TB)
                .join(broadcast(activeDf), Seq("file_path"), "left_semi")
                .distinct()
              val nDel = raw.count()
              if (nDel == 0) Nil
              else {
                val parts = math.max(1L, (nDel + 4000000L - 1L) / 4000000L).toInt
                raw.repartitionByRange(parts, col("file_path"), col("pos"))
                  .sortWithinPartitions("file_path", "pos")
                  .write.mode("overwrite").parquet(delDir.toString)
                // per-written-file (path, rows, bytes) — O(#delete
                // files), from the just-written footers on the driver
                val delWalk = Files.walk(delDir)
                try delWalk.iterator().asScala.filter { p =>
                  val n = p.getFileName.toString
                  n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
                }.map(p => (fileUri(p.toAbsolutePath.normalize.toString),
                  Stats.statsForFile(p.toString).numRecords,
                  Files.size(p))).toSeq.sortBy(_._1)
                finally delWalk.close()
              }
          }
        if (written.isEmpty) (None, 0, 0L)
        else {
          val nDel = written.map(_._2).sum
          val delEntries = written.map { case (p, n, sz) =>
            entry(p, n, sz, seq = 2L, content = 1, Map.empty)
          }
          val delManifest = metaDir.resolve(
            s"${java.util.UUID.nameUUIDFromBytes((seed + "deletes")
              .getBytes(StandardCharsets.UTF_8))}-m1.avro")
          val len = writeAvro(entrySchema,
            manifestMeta + ("content" -> "deletes"), delEntries, delManifest)
          (Some((delManifest, len, written.size, nDel)), written.size, nDel)
        }
      }

    // ---- manifest list
    val lastSeq = if (deleteManifestOpt.isDefined) 2L else 1L
    def listEntry(path: java.nio.file.Path, len: Long, content: Int,
        seq: Long, files: Int, rows: Long): GenericRecord = {
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", fileUri(path.toAbsolutePath.normalize.toString))
      r.put("manifest_length", java.lang.Long.valueOf(len))
      r.put("partition_spec_id", Integer.valueOf(0))
      r.put("content", Integer.valueOf(content))
      r.put("sequence_number", java.lang.Long.valueOf(seq))
      r.put("min_sequence_number", java.lang.Long.valueOf(seq))
      r.put("added_snapshot_id", java.lang.Long.valueOf(snapId))
      r.put("added_files_count", Integer.valueOf(files))
      r.put("existing_files_count", Integer.valueOf(0))
      r.put("deleted_files_count", Integer.valueOf(0))
      r.put("added_rows_count", java.lang.Long.valueOf(rows))
      r.put("existing_rows_count", java.lang.Long.valueOf(0L))
      r.put("deleted_rows_count", java.lang.Long.valueOf(0L))
      r.put("partitions", null)
      r
    }
    val listEntries =
      listEntry(dataManifest, dataManifestLen, 0, 1L,
        ss.activeFiles.size, dataRows) +:
        deleteManifestOpt.toSeq.map { case (p, len, nf, nr) =>
          listEntry(p, len, 1, 2L, nf, nr)
        }
    val manifestList = metaDir.resolve(
      s"snap-$snapId-1-${java.util.UUID.nameUUIDFromBytes(
        seed.getBytes(StandardCharsets.UTF_8))}.avro")
    writeAvro(manifestListSchema,
      Map("format-version" -> "2",
        "snapshot-id" -> snapId.toString,
        "sequence-number" -> lastSeq.toString,
        "parent-snapshot-id" -> "null"),
      listEntries, manifestList)
    SnapArtifacts(manifestList, dataManifest,
      deleteManifestOpt.map(_._1), lastSeq, ss.activeFiles.size,
      delFileCount, delRowCount, dataRows)
  }

  def export(t: GraftTable): ExportResult = {
    // raw-egress guard (L114/r15): external Iceberg readers bypass
    // graft policies, so governed tables refuse to export
    t.requireUngovernedFor("export an Iceberg artifact")
    val spark = t.spark
    val s = t.snapshot
    val meta = s.metadata.getOrElse(throw new IllegalStateException(
      s"not a GraftLake table: ${t.path}"))
    val schema = s.schema
    val (schemaNode, _, topIds, lastColumnId) = buildSchema(schema)
    val nm = nameMapping(schema, topIds, s.physicalName)

    val outRoot = Paths.get(t.path).resolve("_graft_iceberg")
    val metaDir = outRoot.resolve("metadata")
    // prior state BEFORE cleanup: previous snapshots ride the new
    // metadata's snapshots[] / snapshot-log / metadata-log (the
    // spec's external time-travel surface), for as long as their
    // artifacts survive the retention window
    val prevMeta: Option[(java.nio.file.Path, com.fasterxml.jackson.databind.JsonNode)] =
      try {
        val hintF = metaDir.resolve("version-hint.text")
        if (!Files.exists(hintF)) None
        else {
          val hv = new String(Files.readAllBytes(hintF),
            StandardCharsets.UTF_8).trim
          val f = metaDir.resolve(s"v$hv.metadata.json")
          if (Files.exists(f)) Some((f, mapper.readTree(Files.readAllBytes(f))))
          else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    // regeneration keeps prior metadata/manifest files AND
    // _deletes/v<M>/ rewrites inside their retention window (the
    // generateManifest contract — an external reader holding the
    // previous metadata keeps its consistent view); expired artifacts
    // are reclaimed here
    if (Files.exists(outRoot)) {
      val retainH = meta.properties
        .getOrElse("graft.manifest.exportRetentionHours", "168").toDouble
      val cutoff =
        System.currentTimeMillis() - (retainH * 3600 * 1000).toLong
      if (Files.exists(metaDir)) {
        val l = Files.list(metaDir)
        try l.iterator().asScala
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
          .foreach(Files.deleteIfExists(_))
        finally l.close()
      }
      val delRoot = outRoot.resolve("_deletes")
      if (Files.exists(delRoot)) {
        val l = Files.list(delRoot)
        try l.iterator().asScala
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
          .foreach(deleteTree)
        finally l.close()
      }
    }
    Files.createDirectories(metaDir)

    // ---- partition spec (identity transforms over the table's
    // partition columns; deletes ride a second, unpartitioned spec —
    // path-addressed position deletes apply globally per the spec)
    val partCols = s.partitionColumns
    val partTypes = partCols.map(c =>
      c -> schema.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalStateException(s"partition column $c not in schema")))
      .toMap
    val partFieldId = partCols.zipWithIndex.map { case (c, i) => c -> (1000 + i) }.toMap
    val partFieldsAvro = partCols.map(c =>
      s"""{"name":"$c","type":["null",${avroPartitionType(partTypes(c))}],"default":null,"field-id":${partFieldId(c)}}""")
      .mkString(",")
    partCols.foreach(c => require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"partition column $c is not a valid Avro/Iceberg field name"))

    // ---- data manifest (driver-side O(#files) metadata)
    val snapshotId = s.version + 1
    val entrySchema = manifestEntrySchema(partFieldsAvro)
    val specJson = {
      val a = mapper.createArrayNode()
      partCols.foreach { c =>
        val f = a.addObject()
        f.put("name", c)
        f.put("transform", "identity")
        f.put("source-id", topIds(c))
        f.put("field-id", partFieldId(c))
        ()
      }
      mapper.writeValueAsString(a)
    }
    val schemaJsonStr = mapper.writeValueAsString(schemaNode)
    val manifestMeta = Map(
      "schema" -> schemaJsonStr, "schema-id" -> "0",
      "partition-spec" -> specJson, "partition-spec-id" -> "0",
      "format-version" -> "2", "content" -> "data")
    val art = writeSnapshotArtifacts(t, s, snapshotId, metaDir, outRoot,
      entrySchema, partCols, partTypes, manifestMeta,
      seed = t.path + s.version, delSubdir = f"v${s.version}%020d")
    val manifestList = art.manifestList
    val lastSeq = art.lastSeq
    val dataRows = art.dataRows
    val delFileCount = art.delFileCount
    val delRowCount = art.delRowCount

    // ---- L113 branches as Iceberg BRANCH refs: each live, unsealed
    // branch whose schema AND partition spec still match the parent's
    // exports its own snapshot — a manifest list + manifests over the
    // BRANCH state, reusing the exact artifact writer above — plus a
    // `type:branch` ref, so a native reader serves the lakeFS-style
    // workflow by NAME (`branch('dev')`). A diverged-schema branch is
    // SKIPPED (Iceberg snapshots in one metadata file share schema-id
    // 0 here; exporting it would make readers mis-decode), the same
    // skip-not-dangle discipline expired tag refs get. Deterministic
    // snapshot ids keyed off (branch name, branch version) keep
    // re-exports stable and clear of the parent's version+1 id line.
    val branchSnaps: Seq[(String, Long, SnapArtifacts)] =
      t.branches.flatMap { name =>
        scala.util.Try {
          val bt = t.branch(name)
          val bs = bt.snapshot
          val sealed0 = bs.metadata.exists(_.properties
            .get(GraftTable.BranchSealedProp).contains("true"))
          if (sealed0 || bs.schema.json != schema.json ||
              bs.partitionColumns != partCols) None
          else {
            val bid = 0x40000000L << 16 |
              (java.util.UUID.nameUUIDFromBytes(
                name.getBytes(StandardCharsets.UTF_8))
                .getMostSignificantBits & 0xFFFFFFFFL) << 12 |
              (bs.version & 0xFFFL)
            Some((name, bid, writeSnapshotArtifacts(bt, bs, bid,
              metaDir, outRoot, entrySchema, partCols, partTypes,
              manifestMeta, seed = s"${t.path}#$name@${bs.version}",
              delSubdir = s"b-$name-v${bs.version}")))
          }
        }.toOption.flatten
      }

    // ---- v<N>.metadata.json + version-hint.text (HadoopCatalog)
    val now = System.currentTimeMillis()
    val m = mapper.createObjectNode()
    m.put("format-version", 2)
    m.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      t.path.getBytes(StandardCharsets.UTF_8)).toString)
    m.put("location", Paths.get(t.path).toAbsolutePath.normalize.toString)
    m.put("last-sequence-number", lastSeq)
    m.put("last-updated-ms", now)
    m.put("last-column-id", lastColumnId)
    m.put("current-schema-id", 0)
    m.putArray("schemas").add(schemaNode)
    m.put("default-spec-id", 0)
    val specs = m.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    spec0.putPOJO("fields", mapper.readTree(specJson))
    m.put("last-partition-id",
      if (partCols.isEmpty) 999 else 999 + partCols.size)
    m.put("default-sort-order-id", 0)
    val orders = m.putArray("sort-orders")
    val order0 = orders.addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    val props = m.putObject("properties")
    props.put("schema.name-mapping.default", mapper.writeValueAsString(nm))
    meta.properties.filterNot(_._1.startsWith("graft."))
      .foreach { case (k, v) => props.put(k, v); () }
    m.put("current-snapshot-id", snapshotId)
    val snaps = m.putArray("snapshots")
    // prior snapshots whose manifest lists survived retention stay
    // listed — a native reader time-travels to them by snapshot id,
    // exactly the engine's own VERSION AS OF surface externalized
    def listAlive(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
      try Files.exists(Paths.get(
        new java.net.URI(node.get("manifest-list").asText()).getPath))
      catch { case scala.util.control.NonFatal(_) => false }
    // partition-spec evolution guard: every manifest is written with
    // partition_spec_id 0, so prior snapshots are only carryable while
    // the CURRENT spec still matches the one they were written under —
    // after repartitionTable / CLUSTER-key changes, a reader decoding
    // an old manifest against the new spec would mis-type the
    // partition struct. A spec change resets the external snapshot
    // history (documented; the engine's own time travel is unaffected).
    val specUnchanged = prevMeta.forall { case (_, pm) =>
      Option(pm.get("partition-specs")).flatMap(a =>
        a.elements().asScala.find(_.get("spec-id").asInt() == 0))
        .map(s0 => mapper.writeValueAsString(s0.get("fields")))
        .contains(specJson)
    }
    val branchIds = branchSnaps.map(_._2).toSet
    val priorSnaps =
      if (!specUnchanged) Nil
      else prevMeta.toSeq.flatMap(_._2.get("snapshots")
        .elements().asScala.toSeq)
        .filter(sn0 => sn0.get("snapshot-id").asLong() != snapshotId &&
          !branchIds.contains(sn0.get("snapshot-id").asLong()) &&
          listAlive(sn0))
    priorSnaps.foreach(snaps.add)
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    sn.put("sequence-number", lastSeq)
    sn.put("timestamp-ms", now)
    sn.put("manifest-list",
      fileUri(manifestList.toAbsolutePath.normalize.toString))
    sn.put("schema-id", 0)
    val summary = sn.putObject("summary")
    summary.put("operation", "append")
    summary.put("added-data-files", s.activeFiles.size.toString)
    summary.put("added-records", dataRows.toString)
    summary.put("total-data-files", s.activeFiles.size.toString)
    summary.put("total-delete-files", delFileCount.toString)
    summary.put("total-records", dataRows.toString)
    summary.put("total-position-deletes", delRowCount.toString)
    // branch snapshots sit beside the main one in snapshots[] (their
    // ids are off the version+1 line) — resolvable by id AND by ref
    branchSnaps.foreach { case (name, bid, bart) =>
      val bsn = snaps.addObject()
      bsn.put("snapshot-id", bid)
      bsn.put("sequence-number", bart.lastSeq)
      bsn.put("timestamp-ms", now)
      bsn.put("manifest-list",
        fileUri(bart.manifestList.toAbsolutePath.normalize.toString))
      bsn.put("schema-id", 0)
      val bsum = bsn.putObject("summary")
      bsum.put("operation", "append")
      bsum.put("graft-branch", name)
      bsum.put("total-data-files", bart.nFiles.toString)
      bsum.put("total-records", bart.dataRows.toString)
      bsum.put("total-position-deletes", bart.delRowCount.toString)
      ()
    }
    val aliveIds = (priorSnaps.map(_.get("snapshot-id").asLong()) :+
      snapshotId).toSet
    val snapLog = m.putArray("snapshot-log")
    prevMeta.toSeq.flatMap(p => Option(p._2.get("snapshot-log")).toSeq)
      .flatMap(_.elements().asScala.toSeq)
      .filter(e => aliveIds.contains(e.get("snapshot-id").asLong()) &&
        e.get("snapshot-id").asLong() != snapshotId)
      .foreach(snapLog.add)
    val slEntry = snapLog.addObject()
    slEntry.put("timestamp-ms", now)
    slEntry.put("snapshot-id", snapshotId)
    // L112 tags ride along as Iceberg REFS (spec v2 `refs` map): a
    // native reader time-travels by NAME, not just by snapshot id —
    // the same names the engine's own `AS OF TAG` surface resolves.
    // Only tags whose pinned version survived into `snapshots` are
    // carryable (an expired/never-exported snapshot has no manifest
    // list to point at); graft version V = snapshot-id V+1 throughout
    // this export. `main` is the mandatory branch ref at the head.
    val refs = m.putObject("refs")
    val mainRef = refs.putObject("main")
    mainRef.put("snapshot-id", snapshotId)
    mainRef.put("type", "branch")
    t.tags.toSeq.sortBy(_._1).foreach { case (name, v) =>
      if (name != "main" && aliveIds.contains(v + 1)) {
        val r = refs.putObject(name)
        r.put("snapshot-id", v + 1)
        r.put("type", "tag")
        ()
      }
    }
    // L113 branch refs (type: branch) — a tag and a branch sharing a
    // name is user error; the tag wins (first writer), the branch is
    // skipped rather than silently shadowing it
    branchSnaps.foreach { case (name, bid, _) =>
      if (name != "main" && !refs.has(name)) {
        val r = refs.putObject(name)
        r.put("snapshot-id", bid)
        r.put("type", "branch")
        ()
      }
    }
    val metaLog = m.putArray("metadata-log")
    prevMeta.foreach { case (prevFile, prevNode) =>
      Option(prevNode.get("metadata-log")).toSeq
        .flatMap(_.elements().asScala.toSeq)
        .filter(e => Files.exists(Paths.get(
          new java.net.URI(e.get("metadata-file").asText()).getPath)))
        .foreach(metaLog.add)
      // the file we read the prior state from becomes a log entry —
      // unless this export overwrites it (same table version)
      if (prevFile.getFileName.toString != s"v${s.version + 1}.metadata.json") {
        val mlEntry = metaLog.addObject()
        mlEntry.put("timestamp-ms", prevNode.get("last-updated-ms").asLong())
        mlEntry.put("metadata-file",
          fileUri(prevFile.toAbsolutePath.normalize.toString))
        ()
      }
    }

    val metaVersion = s.version + 1
    val metadataFile = metaDir.resolve(s"v$metaVersion.metadata.json")
    Files.write(metadataFile,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    Files.write(metaDir.resolve("version-hint.text"),
      metaVersion.toString.getBytes(StandardCharsets.UTF_8))

    ExportResult(
      metadataFile.toString,
      manifestList.toString,
      (art.dataManifest.toString +: art.deleteManifest.map(_.toString).toSeq) ++
        branchSnaps.flatMap { case (_, _, b) =>
          b.dataManifest.toString +: b.deleteManifest.map(_.toString).toSeq
        },
      s.activeFiles.size, delFileCount, delRowCount)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }

  // ------------------------------------------------------------ reader

  /** Parsed export: data files with their manifest partition values,
    * plus position-delete files. Used by the external read below and
    * by specs; follows the reader algorithm of the Iceberg spec
    * (version-hint → metadata.json → manifest list → manifests).
    */
  final case class ParsedExport(
      schemaJson: String,
      partitionColumns: Seq[String],
      dataFiles: Seq[(String, Map[String, Object])],
      deleteFiles: Seq[String],
      // physical parquet name -> logical field name, from the
      // schema.name-mapping.default property (identity when no
      // column-mapping renames exist)
      nameMapping: Map[String, String] = Map.empty,
      // the snapshot the listing came from (current unless pinned) —
      // the ATTACH provenance stamp that makes incremental RE-SYNC
      // (L118) able to tell "source moved" from "nothing new"
      snapshotId: Long = -1L)

  /** Metadata dir under a table root: the STANDARD Iceberg layout
    * (`<root>/metadata/` — what a HadoopCatalog writer lays down and
    * what [[GraftTable.attachIceberg]] receives for a foreign table)
    * wins when present; otherwise the export's own
    * `_graft_iceberg/metadata/` beside the graft log.
    */
  private def metaDirOf(tablePath: String): java.nio.file.Path = {
    val std = Paths.get(tablePath, "metadata")
    if (Files.exists(std.resolve("version-hint.text"))) std
    else Paths.get(tablePath, "_graft_iceberg", "metadata")
  }

  def parse(tablePath: String,
      snapshotId: Option[Long] = None): ParsedExport = {
    val metaDir = metaDirOf(tablePath)
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(
      Files.readAllBytes(metaDir.resolve(s"v$hint.metadata.json")))
    val snapId = snapshotId.getOrElse(
      meta.get("current-snapshot-id").asLong())
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapId not in the export (expired or never exported)"))
    val listPath = snap.get("manifest-list").asText()
    val partColsOut = meta.get("partition-specs").elements().asScala
      .find(_.get("spec-id").asInt() == meta.get("default-spec-id").asInt())
      .map(_.get("fields").elements().asScala.map(_.get("name").asText()).toSeq)
      .getOrElse(Nil)

    def readAvro(uri: String): Seq[GenericRecord] = {
      val f = new java.io.File(new java.net.URI(uri).getPath)
      val r = new DataFileReader[GenericRecord](f,
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toSeq finally r.close()
    }
    val manifests = readAvro(listPath)
    val (data, deletes) = manifests.partition(
      _.get("content").asInstanceOf[Integer] == 0)
    def entries(ms: Seq[GenericRecord]): Seq[GenericRecord] =
      ms.flatMap(mf => readAvro(mf.get("manifest_path").toString))
        .filter(_.get("status").asInstanceOf[Integer] != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord])
    val dataFiles = entries(data).map { df =>
      val part = df.get("partition").asInstanceOf[GenericRecord]
      val pv = partColsOut.map(c => c -> part.get(c)).toMap
      (df.get("file_path").toString, pv)
    }
    val deleteFiles = entries(deletes).map(_.get("file_path").toString)
    // name mapping: physical parquet name -> field id -> logical name
    // (how a real Iceberg reader resolves field-id-less files)
    val schemaNode = meta.get("schemas").get(0)
    val idToName = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val nm = Option(meta.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .map(_.asText()).map(mapper.readTree)
      .map(_.elements().asScala.flatMap { e =>
        idToName.get(e.get("field-id").asInt())
          .map(e.get("names").get(0).asText() -> _)
      }.toMap).getOrElse(Map.empty[String, String])
      .filter { case (phys, logical) => phys != logical }
    ParsedExport(mapper.writeValueAsString(schemaNode),
      partColsOut, dataFiles, deleteFiles, nm, snapId)
  }

  /** An EXTERNAL Iceberg-v2 merge-on-read read over the export — zero
    * GraftLake log code on the read side, exactly what a native
    * Iceberg reader executes: list data files from the manifests,
    * attach identity-partition values as constants from the partition
    * struct, and anti-join the position-delete files on
    * (file_path, pos). Partition attachment is a broadcast of the
    * O(#files) manifest listing; the delete anti-join is DV-debt
    * sized. Avro strings surface as Utf8 — rendered via toString.
    */
  /** Resolve a named ref (tag/branch) from the exported metadata —
    * the external-reader half of the refs map: version-hint →
    * metadata.json → refs[name].snapshot-id. Zero GraftLake log code.
    */
  /** Cheap staleness probe for attached mirrors (L118 auto-sync):
    * two small file reads (version-hint + metadata.json header), no
    * manifest decode — safe to run on every read of an attached
    * table.
    */
  def currentSnapshotId(tablePath: String): Long = {
    val metaDir = metaDirOf(tablePath)
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
      .get("current-snapshot-id").asLong()
  }

  def resolveRef(tablePath: String, refName: String): Long = {
    val metaDir = metaDirOf(tablePath)
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(
      Files.readAllBytes(metaDir.resolve(s"v$hint.metadata.json")))
    Option(meta.get("refs")).flatMap(r => Option(r.get(refName)))
      .map(_.get("snapshot-id").asLong())
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$refName' in the Iceberg export of $tablePath"))
  }

  /** External read at a named ref: `externalRead` pinned to the ref's
    * snapshot — how a native engine serves `VERSION AS OF 'tag'`.
    */
  def externalReadRef(spark: SparkSession, tablePath: String,
      refName: String): DataFrame =
    externalRead(spark, tablePath, Some(resolveRef(tablePath, refName)))

  def externalRead(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val p = parse(tablePath, snapshotId)
    val raw = spark.read.parquet(p.dataFiles.map(_._1): _*)
    // apply the name mapping: physical parquet columns surface under
    // their LOGICAL names, exactly how an id-based reader resolves
    // field-id-less files (column-mapping renames are metadata-only —
    // the data files keep their original names)
    val mapped = p.nameMapping.foldLeft(raw) { case (d, (phys, logical)) =>
      if (d.columns.contains(phys)) d.withColumnRenamed(phys, logical) else d
    }
    val data = mapped
      .withColumn("__fp", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    val withParts =
      if (p.partitionColumns.isEmpty) data
      else {
        val rows = p.dataFiles.map { case (f, pv) =>
          Row.fromSeq(f +: p.partitionColumns.map(c =>
            pv.get(c).flatMap(Option(_)).map(_.toString).orNull))
        }
        val schema = StructType(
          StructField("__fp", StringType) +:
            p.partitionColumns.map(c => StructField(c, StringType)))
        val lookup = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        data.join(broadcast(lookup), Seq("__fp"))
      }
    val masked =
      if (p.deleteFiles.isEmpty) withParts
      else {
        val dels = spark.read.parquet(p.deleteFiles: _*)
          .select(col("file_path").as("__fp"), col("pos").as("__pos"))
        withParts.join(dels, Seq("__fp", "__pos"), "left_anti")
      }
    masked.drop("__fp", "__pos")
  }
}
