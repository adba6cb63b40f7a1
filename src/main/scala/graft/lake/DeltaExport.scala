package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta-format transaction-log EXPORT (L110) — the third leg of
  * external interop: the symlink manifest (L77/L100) covers
  * DuckDB/Trino-via-Hive, the Iceberg v2 metadata export (L105)
  * covers native Iceberg readers, and this export writes a standard
  * `_delta_log` (newline-delimited JSON actions per the PUBLIC Delta
  * protocol, github.com/delta-io/delta PROTOCOL.md) under
  * `<table>/_graft_delta/`, so Delta-native readers — delta-rs,
  * DuckDB's delta extension, Trino's delta connector, Spark's own
  * delta package — attach by pointing at that directory. Data files
  * are referenced by ABSOLUTE URI (the protocol's shallow-clone
  * form), so no data copies and no second table root.
  *
  * Design points, mirroring the Iceberg export where the protocols
  * differ:
  *
  * 1. **Incremental external tailing, not history replay.** Each
  *    export appends ONE Delta commit that swaps the external live
  *    set to the current snapshot (removes for files that left,
  *    adds for files that arrived) — exactly the UniForm-style
  *    translation contract. A Delta reader that tailed version N
  *    keeps tailing; it does NOT see GraftLake's internal operation
  *    history, which the protocols don't share.
  * 2. **Deletion vectors MATERIALIZE on export.** Delta's own DV
  *    encoding (RoaringBitmapArray sidecars, writer feature
  *    `deletionVectors`) has thin reader support outside Databricks,
  *    so instead of emitting a dialect many "Delta readers" refuse,
  *    masked files export as materialized rewrites (the L100
  *    manifest-MATERIALIZE discipline): live rows of masked files
  *    are rewritten under `_graft_delta/_materialized/v<N>/` and
  *    exported in place of the originals. O(masked data), bounded in
  *    steady state by auto-REORG (L102); unmasked files always
  *    export as-is.
  * 3. **Column mapping exports as Delta column mapping.** GraftLake's
  *    metadata-only RENAME (L27) keeps physical parquet names; the
  *    export emits `delta.columnMapping.mode = name` with per-field
  *    `delta.columnMapping.physicalName`/`.id` metadata (reader
  *    version 2 / writer version 5) — the exact protocol feature the
  *    graft mechanism mirrors internally. Unmapped tables export at
  *    the baseline protocol (1/2) every reader supports.
  * 4. **Partition-spec change resets the external history.** Delta
  *    has no partition-spec evolution; a repartitioned table restarts
  *    the export at version 0 (the Iceberg export's snapshot-log
  *    reset, adapted), and external readers re-attach — the honest
  *    translation of an operation the target protocol cannot express.
  *
  * Scale: the export is driver-side metadata (O(#files) JSON lines)
  * plus one bounded Spark job over masked files only. Prior
  * `_materialized/v<M>/` rewrites survive for
  * `graft.manifest.exportRetentionHours` (default 168 h) so a reader
  * holding an older exported version keeps a consistent view — the
  * same retention contract the manifest and Iceberg exports follow.
  */
object DeltaExport {

  final case class ExportResult(
      logDir: String,
      version: Long,
      adds: Int,
      removes: Int,
      materializedFiles: Int)

  final case class ParsedDelta(
      version: Long,
      schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String],
      // live path -> (physical-keyed partition values, add node)
      liveAdds: Map[String, JsonNode])

  /** Whether any (possibly nested) field carries the VARIANT type —
    * such a schema needs the `variantType` Delta table feature.
    */
  private def hasVariant(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.VariantType => true
    case st: StructType => st.fields.exists(f => hasVariant(f.dataType))
    case a: ArrayType => hasVariant(a.elementType)
    case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
    case _ => false
  }

  /** Exported protocol floor: the lowest (minReaderVersion,
    * minWriterVersion, readerFeatures, writerFeatures) that makes the
    * emitted log legal. Variant schemas force the FEATURE form
    * (reader 3 / writer 7 per the public protocol), which must then
    * list every feature in use — `variantType` plus `columnMapping`
    * when mapped (and the legacy writer features the non-feature form
    * implied). Without variant the baseline stays as low as possible
    * so the widest reader population can attach.
    */
  private def protocolFor(mapped: Boolean, variant: Boolean)
      : (Int, Int, Seq[String], Seq[String]) =
    if (variant) {
      val cm = if (mapped) Seq("columnMapping") else Nil
      (3, 7, cm :+ "variantType",
        cm ++ Seq("appendOnly", "invariants", "variantType"))
    } else if (mapped) (2, 5, Nil, Nil)
    else (1, 2, Nil, Nil)

  private val mapper = new ObjectMapper()

  private def fileUri(abs: String): String =
    new org.apache.hadoop.fs.Path(new java.io.File(abs).toURI).toString

  private def exportRoot(tablePath: String): Path =
    Paths.get(tablePath, "_graft_delta")
  private def logDir(tablePath: String): Path =
    exportRoot(tablePath).resolve("_delta_log")

  /** Delta schemaString: the logical Spark schema, with column-mapping
    * field metadata when the graft table carries a mapping. Ids are
    * assigned preorder over every (nested) struct field, as Delta's
    * own mapping upgrade does.
    */
  private def deltaSchema(s: Snapshot): (StructType, Int) = {
    val mapped = s.colMap.nonEmpty
    var nextId = 0
    def annotate(st: StructType, topLevel: Boolean): StructType =
      StructType(st.fields.map { f =>
        nextId += 1
        val id = nextId
        val dt = f.dataType match {
          case nested: StructType => annotate(nested, topLevel = false)
          case ArrayType(nested: StructType, n) =>
            ArrayType(annotate(nested, topLevel = false), n)
          case other => other
        }
        if (!mapped) f.copy(dataType = dt)
        else {
          val phys = if (topLevel) s.physicalName(f.name) else f.name
          val md = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", id.toLong)
            .putString("delta.columnMapping.physicalName", phys)
            .build()
          f.copy(dataType = dt, metadata = md)
        }
      })
    val st = annotate(s.schema, topLevel = true)
    (st, nextId)
  }

  /** One exported file: absolute URI, physical-keyed partition values
    * (None = null partition), size, mtime, footer stats (or the raw
    * stats JSON carried over from a reused prior add), and the add
    * `tags` that make materialized rewrites reusable across exports.
    */
  private final case class ExportFile(
      uri: String,
      partitionValues: Seq[(String, Option[String])],
      size: Long,
      modificationTime: Long,
      stats: Option[FileStats],
      rawStatsJson: Option[String] = None,
      tags: Seq[(String, String)] = Nil) {
    def emittedStats(physSchema: StructType): Option[String] =
      rawStatsJson.orElse(stats.map(statsJson(_, physSchema)))
  }

  /** Delta add.stats JSON from the footer stats: numRecords plus
    * TYPED minValues/maxValues/nullCount (numbers unquoted, strings
    * quoted — what external readers' data skipping parses). Keys are
    * the PHYSICAL column names, the protocol's rule under column
    * mapping. Temporal/binary/nested columns are omitted: their
    * string renderings are engine-specific and stats are advisory.
    */
  private def statsJson(fs: FileStats, physSchema: StructType): String = {
    val node = mapper.createObjectNode()
    node.put("numRecords", fs.numRecords)
    val minN = node.putObject("minValues")
    val maxN = node.putObject("maxValues")
    val nullN = node.putObject("nullCount")
    physSchema.fields.foreach { f =>
      def put(tgt: ObjectNode, v: String): Unit =
        Stats.decode(v, f.dataType).foreach(x => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            tgt.put(f.name, x.asInstanceOf[Number].longValue)
          case FloatType | DoubleType => tgt.put(f.name, x.asInstanceOf[Number].doubleValue)
          case _: DecimalType => tgt.put(f.name, x.asInstanceOf[Decimal].toJavaBigDecimal)
          case BooleanType => tgt.put(f.name, x.asInstanceOf[Boolean])
          case _: StringType => tgt.put(f.name, x.toString)
          case _ => ()
        })
      fs.minValues.get(f.name).foreach(put(minN, _))
      fs.maxValues.get(f.name).foreach(put(maxN, _))
      fs.nullCounts.get(f.name).foreach(n => nullN.put(f.name, n))
    }
    mapper.writeValueAsString(node)
  }

  /** The current snapshot's externally-visible file set: unmasked
    * actives as-is; DV-masked files as materialized rewrites. A
    * rewrite is REUSED from the previous export when the file's DV
    * coverage is unchanged (per-file fingerprint = the set of sidecars
    * referencing it, carried in the add's `tags`) — so under steady
    * MoR epochs each export rewrites only the files the NEW sidecars
    * touch, O(delta), never the whole masked set again.
    */
  private def exportFiles(t: GraftTable, s: Snapshot,
      prevLive: Map[String, JsonNode]): (Seq[ExportFile], Int) = {
    val spark = t.spark
    val physParts = s.partitionColumns.map(s.physicalName)
    // masked file -> sorted sidecar set referencing it (the coverage
    // fingerprint input); one bounded job over the DV sidecars
    val dvRefs: Map[String, Seq[String]] =
      if (s.dvFiles.isEmpty) Map.empty
      else DvSidecar.refsBySidecar(spark, s.dvFiles.map(t.dataPath))
        .groupBy(r => GraftTable.canonicalFsPath(r._1))
        .map { case (f, rows) =>
          f -> rows.map(_._2).toSeq.sorted.distinct
        }
    val masked: Seq[AddFile] =
      if (dvRefs.isEmpty) Nil
      else GraftTable.dvMaskedFiles(
        dvRefs.keys.toIndexedSeq, s.activeFiles, t.dataPath)
    val maskedPaths = masked.map(_.path).toSet
    def fingerprint(f: AddFile): String = {
      val canon = GraftTable.canonicalFsPath(t.dataPath(f.path))
      val sidecars = dvRefs.getOrElse(canon, Nil)
      java.security.MessageDigest.getInstance("MD5")
        .digest((canon + "|" + sidecars.mkString(","))
          .getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    // prior materialized rewrites indexed by (source, dv fingerprint)
    val reusable: Map[(String, String), JsonNode] = prevLive.values.flatMap { n =>
      val tg = n.get("tags")
      if (tg == null || tg.isNull) None
      else for {
        src <- Option(tg.get("graftSource")).map(_.asText())
        fp <- Option(tg.get("graftDvFingerprint")).map(_.asText())
      } yield (src, fp) -> n
    }.toMap
    val (reused, toRewrite) = masked.partition { f =>
      reusable.contains(
        (GraftTable.canonicalFsPath(t.dataPath(f.path)), fingerprint(f)))
    }
    val reusedFiles = reused.map { f =>
      val canon = GraftTable.canonicalFsPath(t.dataPath(f.path))
      val n = reusable((canon, fingerprint(f)))
      val pvNode = n.get("partitionValues")
      val pv = physParts.map { k =>
        val v = if (pvNode == null) null else pvNode.get(k)
        k -> (if (v == null || v.isNull) None else Some(v.asText()))
      }
      val tg = n.get("tags")
      ExportFile(n.get("path").asText(), pv, n.get("size").asLong(),
        n.get("modificationTime").asLong(), stats = None,
        rawStatsJson = Option(n.get("stats")).filterNot(_.isNull)
          .map(_.asText()),
        tags = tg.fieldNames().asScala.map(k =>
          k -> tg.get(k).asText()).toSeq)
    }
    val plain = s.activeFiles.filterNot(f => maskedPaths.contains(f.path)).map { f =>
      val abs = Paths.get(t.dataPath(f.path)).toAbsolutePath.normalize
      ExportFile(
        fileUri(abs.toString),
        s.partitionColumns.map { c =>
          s.physicalName(c) -> f.partitionValues.get(c).flatMap(Option(_))
        },
        f.size,
        f.modificationTime,
        f.stats)
    }
    // rewrite ONE SOURCE FILE PER SUBDIR so each rewrite carries its
    // own (source, fingerprint) tags and later exports can reuse it
    val materialized: Seq[ExportFile] =
      if (toRewrite.isEmpty) Nil
      else {
        val matDir = exportRoot(t.path).resolve("_materialized")
          .resolve(f"v${s.version}%020d")
        val tsKey = "spark.sql.parquet.outputTimestampType"
        val prevTs = spark.conf.getOption(tsKey)
        spark.conf.set(tsKey, "TIMESTAMP_MICROS")
        try toRewrite.flatMap { f =>
          val canon = GraftTable.canonicalFsPath(t.dataPath(f.path))
          val fp = fingerprint(f)
          val subDir = matDir.resolve(fp.take(16))
          val df = t.scan(s, Seq(f)).select(s.physicalColumns: _*)
          val w = df.write.mode("overwrite")
          (if (physParts.nonEmpty) w.partitionBy(physParts: _*) else w)
            .parquet(subDir.toString)
          val walk = Files.walk(subDir)
          val written =
            try walk.iterator().asScala
              .filter(p => Files.isRegularFile(p) &&
                p.getFileName.toString.endsWith(".parquet") &&
                !p.getFileName.toString.startsWith("."))
              .toSeq
            finally walk.close()
          written.map { p =>
            val rel = subDir.relativize(p)
            val vals = (0 until rel.getNameCount - 1).map { i =>
              val seg = rel.getName(i).toString
              val eq = seg.indexOf('=')
              val (k, v) = (seg.substring(0, eq), seg.substring(eq + 1))
              k -> (if (v == "__HIVE_DEFAULT_PARTITION__") None
                else Some(org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.unescapePathName(v)))
            }.toMap
            ExportFile(
              fileUri(p.toAbsolutePath.normalize.toString),
              physParts.map(c => c -> vals.getOrElse(c, None)),
              Files.size(p),
              Files.getLastModifiedTime(p).toMillis,
              stats = None,
              tags = Seq("graftSource" -> canon, "graftDvFingerprint" -> fp))
          }
        } finally prevTs match {
          case Some(v) => spark.conf.set(tsKey, v)
          case None => spark.conf.unset(tsKey)
        }
      }
    (plain ++ reusedFiles ++ materialized, materialized.size)
  }

  /** Reclaim expired materialized rewrites (retention window), always
    * keeping the current version's directory and any directory a LIVE
    * add still references (reused rewrites live in older `v<M>` dirs).
    */
  private def cleanupMaterialized(t: GraftTable, s: Snapshot,
      liveUris: Set[String]): Unit = {
    val matRoot = exportRoot(t.path).resolve("_materialized")
    if (!Files.exists(matRoot)) return
    val retainH = retentionHours(s)
    val cutoff = System.currentTimeMillis() - (retainH * 3600 * 1000).toLong
    val keep = f"v${s.version}%020d"
    val livePaths = liveUris.map(_.stripPrefix("file:"))
    val vs = Files.list(matRoot)
    try vs.iterator().asScala
      .filter { p =>
        val str = p.toAbsolutePath.normalize.toString
        p.getFileName.toString != keep &&
          Files.getLastModifiedTime(p).toMillis < cutoff &&
          !livePaths.exists(_.startsWith(str + "/"))
      }
      .foreach(deleteTree)
    finally vs.close()
  }

  /** Tolerant property reads (a malformed value must never fail an
    * export — the best-effort contract every maintenance hook keeps).
    */
  private def retentionHours(s: Snapshot): Double =
    scala.util.Try(s.metadata.map(_.properties).getOrElse(Map.empty)
      .getOrElse("graft.manifest.exportRetentionHours", "168").toDouble)
      .getOrElse(168.0)
  private def checkpointInterval(s: Snapshot): Int =
    scala.util.Try(s.metadata.map(_.properties).getOrElse(Map.empty)
      .getOrElse("graft.delta.checkpointInterval", "10").toInt)
      .getOrElse(10)

  /** Max actions per checkpoint part: past this the self-checkpoint
    * writes the protocol's MULTI-PART form
    * (`V.checkpoint.<part>.<parts>.parquet`) so a 10⁶-file table's
    * checkpoint is written and replayed in parallel instead of
    * through one writer task and one reader task.
    */
  private def checkpointPartSize(s: Snapshot): Int =
    scala.util.Try(s.metadata.map(_.properties).getOrElse(Map.empty)
      .getOrElse("graft.delta.checkpointPartSize", "100000").toInt)
      .getOrElse(100000)

  private def deleteTree(p: Path): Unit = {
    val w = Files.walk(p)
    val all = try w.iterator().asScala.toSeq finally w.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  def export(t: GraftTable): ExportResult = {
    // a Delta artifact hands the raw files to external engines that
    // know nothing of graft row filters / masks — refuse on governed
    // tables (r14 advisory; the UniForm-vs-row-filter rule)
    t.requireUngovernedFor("export a Delta artifact")
    val s = t.snapshot
    val ld = logDir(t.path)
    val (schema, maxColId) = deltaSchema(s)
    val mapped = s.colMap.nonEmpty
    val configuration: Map[String, String] =
      if (mapped) Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> maxColId.toString)
      else Map.empty

    // previous external state (None = first export); spark rides
    // along so a checkpointed + retention-cleaned log still replays
    val prev: Option[ParsedDelta] =
      if (Files.exists(ld))
        Some(parseLog(ld, None, Some(t.spark)))
      else None
    // Delta cannot express a partition-spec change: reset the external
    // history and let readers re-attach at a fresh version 0
    val specChanged = prev.exists(_.partitionColumns != s.partitionColumns)
    if (specChanged) deleteTree(exportRoot(t.path))
    val base = if (specChanged) None else prev

    val prevLive = base.map(_.liveAdds).getOrElse(Map.empty)
    val (files, matCount) = exportFiles(t, s, prevLive)
    val current = files.map(f => f.uri -> f).toMap

    val added = files.filterNot(f => prevLive.contains(f.uri))
    val removed = prevLive.keys.filterNot(current.contains).toSeq.sorted
    val metaChanged = base.forall(p =>
      p.schemaString != schema.json ||
        p.partitionColumns != s.partitionColumns ||
        p.configuration != configuration)
    val version = base.map(_.version + 1).getOrElse(0L)
    if (base.nonEmpty && added.isEmpty && removed.isEmpty && !metaChanged)
      return ExportResult(ld.toString, base.get.version, 0, 0, 0)

    Files.createDirectories(ld)
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]

    val ci = mapper.createObjectNode()
    val ciBody = ci.putObject("commitInfo")
    ciBody.put("timestamp", now)
    ciBody.put("operation", if (version == 0L) "GRAFT EXPORT" else "GRAFT EXPORT SYNC")
    val ciParams = ciBody.putObject("operationParameters")
    ciParams.put("graftVersion", s.version.toString)
    lines += mapper.writeValueAsString(ci)

    // protocol at version 0, AND whenever the column-mapping mode
    // flips (a rename on an already-exported table must UPGRADE the
    // reader/writer requirement before readers hit the new metadata)
    // or a VARIANT column first enters the schema (the variantType
    // table feature requires the feature-form protocol — readers
    // must see the upgrade before the metadata that needs it)
    val mappingFlipped = base.exists(p =>
      p.configuration.get("delta.columnMapping.mode") !=
        configuration.get("delta.columnMapping.mode"))
    val variant = hasVariant(schema)
    val variantAppeared = variant && base.exists(p =>
      p.schemaString == null || !p.schemaString.contains("\"variant\""))
    if (version == 0L || mappingFlipped || variantAppeared) {
      val pr = mapper.createObjectNode()
      val prBody = pr.putObject("protocol")
      val (minR, minW, rf, wf) = protocolFor(mapped, variant)
      prBody.put("minReaderVersion", minR)
      prBody.put("minWriterVersion", minW)
      if (rf.nonEmpty) {
        val a = prBody.putArray("readerFeatures"); rf.foreach(a.add)
      }
      if (wf.nonEmpty) {
        val a = prBody.putArray("writerFeatures"); wf.foreach(a.add)
      }
      lines += mapper.writeValueAsString(pr)
    }
    if (version == 0L || metaChanged) {
      val md = mapper.createObjectNode()
      val mdBody = md.putObject("metaData")
      mdBody.put("id", java.util.UUID
        .nameUUIDFromBytes(t.path.getBytes(StandardCharsets.UTF_8)).toString)
      val fmt = mdBody.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      mdBody.put("schemaString", schema.json)
      // LOGICAL names: metaData.partitionColumns matches schemaString
      // field names; only add.partitionValues keys go physical
      val pc = mdBody.putArray("partitionColumns")
      s.partitionColumns.foreach(pc.add)
      val cfg = mdBody.putObject("configuration")
      configuration.foreach { case (k, v) => cfg.put(k, v) }
      mdBody.put("createdTime",
        s.metadata.map(_.createdTime).getOrElse(now))
      lines += mapper.writeValueAsString(md)
    }
    removed.foreach { p =>
      val rm = mapper.createObjectNode()
      val rmBody = rm.putObject("remove")
      rmBody.put("path", p)
      rmBody.put("deletionTimestamp", now)
      rmBody.put("dataChange", true)
      lines += mapper.writeValueAsString(rm)
    }
    added.foreach { f =>
      val ad = mapper.createObjectNode()
      val adBody = ad.putObject("add")
      adBody.put("path", f.uri)
      val pv = adBody.putObject("partitionValues")
      f.partitionValues.foreach {
        case (k, Some(v)) => pv.put(k, v)
        case (k, None) => pv.putNull(k)
      }
      adBody.put("size", f.size)
      adBody.put("modificationTime", f.modificationTime)
      adBody.put("dataChange", true)
      f.emittedStats(s.physicalSchema).foreach(adBody.put("stats", _))
      if (f.tags.nonEmpty) {
        val tg = adBody.putObject("tags")
        f.tags.foreach { case (k, v) => tg.put(k, v) }
      }
      lines += mapper.writeValueAsString(ad)
    }
    val target = ld.resolve(f"$version%020d.json")
    val tmp = ld.resolve(f".$version%020d.json.tmp")
    Files.write(tmp,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    maybeCheckpoint(t, s, ld, version, schema, configuration, files)
    cleanupMaterialized(t, s, current.keySet)
    ExportResult(ld.toString, version, added.size, removed.size, matCount)
  }

  /** Checkpoint the exported log (Delta's own unbounded-log answer —
    * without it, auto-export per commit makes external readers replay
    * every JSON commit ever written): every
    * `graft.delta.checkpointInterval` sync commits (default 10), one
    * classic checkpoint parquet captures the full live state
    * (protocol + metaData + adds) and `_last_checkpoint` points
    * readers at it; JSON commits BELOW the checkpoint then expire on
    * the shared export retention window — replay cost stays
    * O(live files + commits since last checkpoint) forever. Expired
    * versions lose `versionAsOf` replay, exactly Delta's
    * logRetentionDuration contract.
    */
  private def maybeCheckpoint(t: GraftTable, s: Snapshot, ld: Path,
      version: Long, schema: StructType,
      configuration: Map[String, String], files: Seq[ExportFile]): Unit = {
    val props = s.metadata.map(_.properties).getOrElse(Map.empty)
    val interval = checkpointInterval(s)
    if (version <= 0L || interval <= 0 || version % interval != 0) {
      cleanupJsonTail(ld, s); return
    }
    val spark = t.spark
    import org.apache.spark.sql.Row
    val mapped = s.colMap.nonEmpty
    // rows are (protocol, metaData, add, remove, txn): the protocol's
    // checkpoint schema defines all five action columns plus
    // format.options — strict Delta-native readers validate the file
    // against that layout, so the never-populated remove/txn columns
    // still must EXIST as null-valued structs (r13 advisory)
    val (minR, minW, rf, wf) = protocolFor(mapped, hasVariant(schema))
    val protoRow = Row(Row(minR, minW,
      if (rf.isEmpty) null else rf, if (wf.isEmpty) null else wf),
      null, null, null, null)
    val metaRow = Row(null,
      Row(java.util.UUID.nameUUIDFromBytes(
          t.path.getBytes(StandardCharsets.UTF_8)).toString,
        Row("parquet", Map.empty[String, String]), schema.json,
        s.partitionColumns, configuration,
        s.metadata.map(_.createdTime).getOrElse(0L)),
      null, null, null)
    val addRows = files.map { f =>
      Row(null, null,
        Row(f.uri, f.partitionValues.map { case (k, v) => k -> v.orNull }.toMap,
          f.size, f.modificationTime, true,
          f.emittedStats(s.physicalSchema).orNull,
          if (f.tags.isEmpty) null else f.tags.toMap),
        null, null)
    }
    val ckSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("tags", MapType(StringType, StringType))))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("extendedFileMetadata", BooleanType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType))))))
    val tmpDir = ld.resolve(f".ck-$version%020d.tmp")
    val nActions = 2 + addRows.size
    val wantParts = math.max(1,
      math.ceil(nActions.toDouble / checkpointPartSize(s)).toInt)
    spark.createDataFrame(
        spark.sparkContext.parallelize(protoRow +: metaRow +: addRows,
          wantParts),
        ckSchema)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val partFiles = {
      val l = Files.list(tmpDir)
      try l.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally l.close()
    }
    if (partFiles.size == 1) {
      // classic single-part checkpoint
      Files.move(partFiles.head,
        ld.resolve(f"$version%020d.checkpoint.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Files.write(ld.resolve("_last_checkpoint"),
        s"""{"version":$version,"size":$nActions}"""
          .getBytes(StandardCharsets.UTF_8))
    } else {
      // the protocol's MULTI-PART form: V.checkpoint.<i>.<n>.parquet
      // (1-based), `_last_checkpoint` carries `parts` — written from
      // the ACTUAL emitted part count, which can differ from the
      // requested split. Parts land before the pointer flips, so a
      // crash mid-rename leaves the previous checkpoint authoritative.
      val n = partFiles.size
      partFiles.zipWithIndex.foreach { case (f, i) =>
        Files.move(f,
          ld.resolve(f"$version%020d.checkpoint.${i + 1}%010d.$n%010d.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      Files.write(ld.resolve("_last_checkpoint"),
        s"""{"version":$version,"size":$nActions,"parts":$n}"""
          .getBytes(StandardCharsets.UTF_8))
    }
    deleteTree(tmpDir)
    cleanupJsonTail(ld, s)
  }

  /** Expire JSON commits strictly below the newest checkpoint once
    * they age past the export retention window (readers within the
    * window keep their replay; beyond it the checkpoint carries the
    * state, Delta's log-retention contract).
    */
  private def cleanupJsonTail(ld: Path, s: Snapshot): Unit = {
    val ckRe = """(\d{20})\.checkpoint(?:\.\d+\.\d+)?\.parquet""".r
    val l1 = Files.list(ld)
    val newestCk =
      try l1.iterator().asScala.flatMap(p => p.getFileName.toString match {
        case ckRe(v) => Some(v.toLong)
        case _ => None
      }).foldLeft(-1L)(math.max)
      finally l1.close()
    if (newestCk < 0) return
    val retainH = retentionHours(s)
    val cutoff = System.currentTimeMillis() - (retainH * 3600 * 1000).toLong
    val l2 = Files.list(ld)
    try l2.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.matches("\\d{20}\\.json") &&
          n.stripSuffix(".json").toLong < newestCk &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      }
      .foreach(Files.deleteIfExists(_))
    finally l2.close()
  }

  /** Replay the exported `_delta_log` exactly as a Delta reader does:
    * JSON commits in version order, adds minus removes, last metaData
    * wins. Zero GraftLake log code on this side. `atVersion` replays
    * only commits ≤ that version — external TIME TRAVEL, exactly
    * Delta's own `versionAsOf`: older data files stay referenced by
    * older commits and vacuum spares the export, so the view holds
    * for the retention window.
    */
  def parse(tablePath: String, atVersion: Option[Long] = None): ParsedDelta =
    parseLog(logDir(tablePath), atVersion)

  /** Parse a FOREIGN Delta table (its root holds `_delta_log`
    * directly) — the attach path (L111) reads external tables through
    * the same replay the export's own read side uses. Real Delta
    * writers CHECKPOINT the log and clean up early JSON commits, so
    * with a SparkSession the replay seeds from the newest classic
    * checkpoint parquet (single- or multi-part) and replays only the
    * JSON tail — exactly a Delta reader's snapshot construction.
    */
  def parseTable(deltaRoot: String, atVersion: Option[Long] = None,
      spark: Option[SparkSession] = None): ParsedDelta =
    parseLog(Paths.get(deltaRoot, "_delta_log"), atVersion, spark)

  /** Cheap staleness probe for attached mirrors (L118 auto-sync): the
    * latest version is the max-numbered commit JSON — one directory
    * listing, no replay. Log cleanup only removes EARLY commits, so
    * the max is exact.
    */
  def latestSourceVersion(deltaRoot: String): Long = {
    val ld = Paths.get(deltaRoot, "_delta_log")
    val jsonRe = """(\d{20})\.json""".r
    val l = Files.list(ld)
    try l.iterator().asScala.flatMap(p => p.getFileName.toString match {
      case jsonRe(v) => Some(v.toLong)
      case _ => None
    }).foldLeft(-1L)(math.max)
    finally l.close()
  }

  private def parseLog(ld: Path, atVersion: Option[Long],
      spark: Option[SparkSession] = None): ParsedDelta = {
    // newest classic checkpoint at/before atVersion (readable only
    // with a SparkSession; our own exports never write one)
    val ckRe = """(\d{20})\.checkpoint(?:\.\d+\.\d+)?\.parquet""".r
    val ckList = Files.list(ld)
    val ckByVersion =
      try ckList.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case ckRe(v) if atVersion.forall(v.toLong <= _) =>
            Some(v.toLong -> p)
          case _ => None
        }
      }.toSeq.groupBy(_._1)
      finally ckList.close()
    val checkpoint =
      if (spark.isEmpty || ckByVersion.isEmpty) None
      else Some(ckByVersion.maxBy(_._1))

    var schemaString: String = null
    var partCols: Seq[String] = Nil
    var configuration = Map.empty[String, String]
    val live = scala.collection.mutable.LinkedHashMap.empty[String, JsonNode]

    checkpoint.foreach { case (_, parts) =>
      val df = spark.get.read.parquet(parts.map(_._2.toString): _*)
      val cols = df.columns.toSet
      if (cols.contains("metaData")) {
        df.select("metaData").where(col("metaData").isNotNull)
          .collect().foreach { r =>
            val m = r.getStruct(0)
            val fi = m.schema.fieldNames
            schemaString = m.getAs[String]("schemaString")
            partCols = m.getAs[scala.collection.Seq[String]](
              "partitionColumns").toSeq
            configuration =
              if (fi.contains("configuration") &&
                  m.getAs[Map[String, String]]("configuration") != null)
                m.getAs[Map[String, String]]("configuration")
              else Map.empty
          }
      }
      if (cols.contains("add")) {
        df.select("add").where(col("add").isNotNull)
          .collect().foreach { r =>
            val a = r.getStruct(0)
            val node = mapper.createObjectNode()
            node.put("path", a.getAs[String]("path"))
            val pv = node.putObject("partitionValues")
            Option(a.getAs[Map[String, String]]("partitionValues"))
              .getOrElse(Map.empty).foreach {
                case (k, null) => pv.putNull(k)
                case (k, v) => pv.put(k, v)
              }
            node.put("size", a.getAs[Long]("size"))
            node.put("modificationTime", a.getAs[Long]("modificationTime"))
            node.put("dataChange", true)
            if (a.schema.fieldNames.contains("stats") &&
                a.getAs[String]("stats") != null)
              node.put("stats", a.getAs[String]("stats"))
            if (a.schema.fieldNames.contains("tags") &&
                a.getAs[Map[String, String]]("tags") != null) {
              val tg = node.putObject("tags")
              a.getAs[Map[String, String]]("tags").foreach {
                case (k, v) => tg.put(k, v)
              }
            }
            if (a.schema.fieldNames.contains("deletionVector") &&
                !a.isNullAt(a.fieldIndex("deletionVector")))
              node.set("deletionVector",
                mapper.createObjectNode().put("storageType", "present"))
            live.put(node.get("path").asText(), node)
          }
      }
    }

    val after = checkpoint.map(_._1).getOrElse(-1L)
    val listing = Files.list(ld)
    val versions =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
        .filter { p =>
          val v = p.getFileName.toString.stripSuffix(".json").toLong
          v > after && atVersion.forall(v <= _)
        }
        .toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    require(versions.nonEmpty || checkpoint.nonEmpty,
      s"no Delta commits under $ld" +
        atVersion.map(v => s" at or before version $v").getOrElse(""))
    versions.foreach { vf =>
      val src = Files.newBufferedReader(vf, StandardCharsets.UTF_8)
      try src.lines().iterator().asScala.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("metaData")) {
          val md = node.get("metaData")
          schemaString = md.get("schemaString").asText()
          partCols = md.get("partitionColumns").elements().asScala
            .map(_.asText()).toSeq
          configuration = Option(md.get("configuration"))
            .map(_.fields().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty)
        } else if (node.has("add")) {
          val ad = node.get("add")
          live.put(ad.get("path").asText(), ad)
        } else if (node.has("remove")) {
          live.remove(node.get("remove").get("path").asText())
        }
      } finally src.close()
    }
    val lastVersion = versions.lastOption
      .map(_.getFileName.toString.stripSuffix(".json").toLong)
      .getOrElse(after)
    ParsedDelta(lastVersion, schemaString, partCols, configuration, live.toMap)
  }

  /** An EXTERNAL Delta read over the export — what a Delta-native
    * reader executes: replay the log, scan the live adds, surface
    * logical names via the column-mapping metadata, and attach
    * partition columns (absent from the data files) from each add's
    * partitionValues, cast to their schema types. The partition
    * lookup is an O(#files) broadcast.
    */
  def externalRead(spark: SparkSession, tablePath: String,
      atVersion: Option[Long] = None): DataFrame = {
    val p = parseLog(logDir(tablePath), atVersion, Some(spark))
    val schema = DataType.fromJson(p.schemaString).asInstanceOf[StructType]
    def physOf(f: StructField): String =
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName")
      else f.name
    val physToLogical = schema.fields.map(f => physOf(f) -> f.name).toMap
    // metaData.partitionColumns carries LOGICAL names; the add's
    // partitionValues are keyed by the PHYSICAL name (protocol rule)
    val partFields = p.partitionColumns.map { pc =>
      schema.fields.find(_.name == pc).getOrElse(
        throw new IllegalStateException(s"partition column $pc not in schema"))
    }
    val raw = spark.read.parquet(p.liveAdds.keys.toSeq: _*)
    val renamed = physToLogical.foldLeft(raw) { case (d, (phys, logical)) =>
      if (phys != logical && d.columns.contains(phys))
        d.withColumnRenamed(phys, logical)
      else d
    }
    if (partFields.isEmpty) renamed
    else {
      // join keys must agree on REPRESENTATION: `_metadata.file_path`
      // renders percent-encoded with a file:/// scheme while the add
      // URIs are decoded file:/ Hadoop-Path strings, so partition
      // values needing Hive escaping (spaces, non-ASCII) would diverge
      // and an inner join would silently drop those files' rows (r13
      // advisory). Canonicalize both sides to a bare decoded absolute
      // path, and LEFT-join with a raise_error guard so a residual
      // mismatch fails loudly instead of losing data.
      // url_decode is FORM-decoding: it turns a literal '+' in a path
      // or Hive-escaped partition dir into a space, diverging from
      // canonicalFsPath on the lookup side (r14 advisory). URIs
      // percent-encode, so pre-escaping '+' as %2B makes the decode
      // URI-semantic: only %XX sequences decode.
      val data = renamed.withColumn("__fp",
        regexp_replace(
          url_decode(regexp_replace(col("_metadata.file_path"),
            lit("\\+"), lit("%2B"))),
          "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"))
      // the add URIs are DECODED Hadoop-Path strings (fileUri round-
      // trips through Path.toString): a literal '%' in a Hive-escaped
      // partition dir (e.g. `part=a%25b` on disk for value `a%b`)
      // appears literally here, so URI-decoding them AGAIN (the old
      // canonicalFsPath route) would mangle it to `part=a%b` and miss
      // the join. Hadoop's own Path(String) parse keeps the path
      // component literal — exactly the true filesystem path the data
      // side's single url_decode of `_metadata.file_path` produces.
      def literalFsPath(u: String): String =
        Paths.get(new org.apache.hadoop.fs.Path(u).toUri.getPath)
          .toAbsolutePath.normalize.toString
      val rows = p.liveAdds.toSeq.map { case (uri, add) =>
        val pv = add.get("partitionValues")
        Row.fromSeq(literalFsPath(uri) +: partFields.map { f =>
          val v = pv.get(physOf(f))
          if (v == null || v.isNull) null else v.asText()
        })
      }
      val lookupSchema = StructType(
        StructField("__fp", StringType) +:
          partFields.map(f => StructField(s"__raw_${f.name}", StringType)) :+
          StructField("__matched", BooleanType))
      val lookup = spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map(r => Row.fromSeq(r.toSeq :+ true)), 1), lookupSchema)
      val joined = data.join(broadcast(lookup), Seq("__fp"), "left")
      // the guard rides INSIDE each kept partition column (a dropped
      // helper column would be pruned by Catalyst, silencing the error)
      val withParts = partFields.foldLeft(joined) { case (d, f) =>
        d.withColumn(f.name,
          when(col("__matched").isNotNull, col(s"__raw_${f.name}"))
            .otherwise(raise_error(concat(
              lit("external Delta read: data file missing from live adds "),
              lit("after canonicalization: "), col("__fp"))))
            .cast(f.dataType))
          .drop(s"__raw_${f.name}")
      }
      withParts.drop("__fp").drop("__matched")
        .select(schema.fields.map(f => col(f.name)).toIndexedSeq: _*)
    }
  }
}
