package graft.streaming

import graft.lake.{AddFile, GraftTable, RemoveFile, Snapshot, TxnLog}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftshim.StreamShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Streaming *source* over a GraftLake table — the Delta-style
  * "table as a stream" read (reference docs/00-overview.md:14 calls out
  * streaming ingestion as the genesis of the small-file problem; this
  * is the complementary read side). Offsets are transaction-log
  * versions: the first micro-batch is the full snapshot at the latest
  * version, every later batch reads exactly the files added by commits
  * in `(startVersion, endVersion]` with `dataChange=true`.
  *
  * Scale: a micro-batch plans from KB-scale log JSON on the driver —
  * no directory listing — and reads only the new files, so incremental
  * cost is proportional to the new data, not table size. Compaction
  * commits (`OPTIMIZE`/`ZORDER`, `dataChange=false`) are invisible to
  * the stream. Data-changing removes (DELETE/UPDATE/MERGE rewrites)
  * fail the stream unless `.option("ignoreChanges", "true")`, exactly
  * like Delta's source semantics.
  */
final class GraftSource(
    sqlContext: SQLContext,
    path: String,
    options: Map[String, String]) extends Source with SupportsTriggerAvailableNow {

  private val spark: SparkSession = sqlContext.sparkSession
  private val log = new TxnLog(path)
  private val table = GraftTable.forPath(spark, path)
  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  private val ignoreChanges = opts.getOrElse("ignorechanges", "false").toBoolean

  /** Admission control: cap how many log versions one micro-batch may
    * cover (Delta's maxFilesPerTrigger analog at commit granularity) —
    * keeps catch-up batches bounded when a stream restarts far behind
    * on a high-ingest table. Enforced in [[latestOffset]], where the
    * engine hands us the committed start offset — stateless, so the
    * cap holds across restarts.
    */
  private val maxVersionsPerTrigger = opts.get("maxversionspertrigger").map(_.toLong)
  private val maxBytesPerTrigger = opts.get("maxbytespertrigger").map(_.toLong)

  /** Change-data-feed mode: batches carry a `_change_type` column
    * (insert/delete; an update is a delete+insert pair), so consumers
    * follow DELETE/UPDATE/MERGE and merge-on-read commits exactly
    * instead of failing or setting `ignoreChanges`. Each incremental
    * batch is the row-level snapshot diff over its version range.
    */
  private val readChangeFeed = opts.getOrElse("readchangefeed", "false").toBoolean

  /** `startingVersion` / `startingTimestamp`: skip the initial
    * snapshot and stream commits from this point onward (Delta
    * parity) — the "tail the table from now" mode for tables whose
    * history is too large to replay. A timestamp resolves to the
    * EARLIEST commit at-or-after it (Delta's streaming contract — the
    * batch `TIMESTAMP AS OF` "latest at-or-before" rule would replay
    * changes committed strictly before the requested point); a
    * timestamp past the log head tails from now. Both set is an error.
    */
  private val startingVersion: Option[Long] = {
    val v = opts.get("startingversion").map(_.toLong)
    val ts = opts.get("startingtimestamp").map(s =>
      Snapshot.versionAtOrAfterTimestamp(log, Snapshot.parseTsMillis(s)))
    require(v.isEmpty || ts.isEmpty,
      "set startingVersion or startingTimestamp, not both")
    v.orElse(ts)
  }

  override val schema: StructType = {
    val base = Snapshot.at(spark, log).schema
    if (readChangeFeed && !base.fieldNames.contains("_change_type"))
      base.add("_change_type", "string")
    else base
  }

  private def version(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  // Legacy v1 path (unused when the engine sees SupportsAdmissionControl,
  // which owns capping): report the plain latest version.
  override def getOffset: Option[OffsetV1] =
    log.latestVersion().map(LongOffset(_))

  // --- admission control / Trigger.AvailableNow ------------------------
  // With SupportsTriggerAvailableNow the engine snapshots the end
  // version at query start and drains up to it in successive batches
  // (each capped by maxVersionsPerTrigger), instead of the v1
  // single-batch fallback.

  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = log.latestVersion()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionV2(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val latest0 = log.latestVersion().getOrElse(return null)
    val latest = availableNowCap.fold(latest0)(math.min(latest0, _))
    // a fresh startingVersion stream begins at startingVersion-1, not
    // -1 — otherwise trigger caps crawl offsets up through the very
    // history startingVersion was meant to skip
    val base = math.max(
      Option(startOffset).map(versionV2).getOrElse(-1L),
      startingVersion.map(_ - 1).getOrElse(-1L))
    val byVersions = maxVersionsPerTrigger.fold(latest)(m => math.min(latest, base + m))
    // bytes-based admission: walk forward accumulating each commit's
    // added bytes, stopping once the cap is crossed (always admitting
    // at least one version so a single oversized commit still flows)
    val capped = maxBytesPerTrigger match {
      case None => byVersions
      case Some(maxBytes) =>
        var v = base
        var bytes = 0L
        var continue = true
        while (continue && v < byVersions) {
          val next = commitBytes(v + 1)
          if (bytes == 0L || bytes + next <= maxBytes) {
            v += 1
            bytes += next
          } else continue = false
        }
        v
    }
    if (capped <= base) null else LongOffset(capped)
  }

  private def commitBytes(v: Long): Long =
    log.readCommit(v).collect { case a: AddFile if a.dataChange => a.size }.sum

  override def reportLatestOffset(): OffsetV2 =
    log.latestVersion().map(LongOffset(_)).orNull

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = version(end)
    if (readChangeFeed) return StreamShim.asStreaming(cdfBatch(start, endV), this)
    val batch = start.map(version).orElse(startingVersion.map(_ - 1)) match {
      case None =>
        // initial batch: full snapshot at endV (Delta's "initial
        // snapshot") — DV masks, column mapping, and clone-absolute
        // paths all resolve through the table's own scan
        val snap = Snapshot.at(spark, log, Some(endV))
        readFiles(snap, snap.activeFiles)
      case Some(startV) =>
        val actions = ((startV + 1) to endV).flatMap(log.readCommit)
        val changed = actions.collect { case r: RemoveFile if r.dataChange => r }
        // a merge-on-read DELETE commits only AddDV — no removed files,
        // but rows the snapshot reader no longer sees; silently
        // emitting nothing would diverge downstream, so it fails the
        // append-only contract exactly like a CoW rewrite
        val dvAdded = actions.exists(_.isInstanceOf[graft.lake.AddDV])
        if ((changed.nonEmpty || dvAdded) && !ignoreChanges)
          throw new UnsupportedOperationException(
            s"commit range ($startV, $endV] rewrites or deletes data " +
              s"(${changed.size} removed files" +
              (if (dvAdded) ", merge-on-read deletion vectors added" else "") +
              "); streaming sources are append-only — set option " +
              "ignoreChanges=true to stream anyway (may re-emit or miss rows)")
        val adds = actions.collect { case a: AddFile if a.dataChange => a }
        readFiles(Snapshot.at(spark, log, Some(endV)), adds)
    }
    StreamShim.asStreaming(batch, this)
  }

  /** CDF batch: initial = snapshot as inserts; incremental = the
    * operation-level change feed over the version range (CDC sidecars
    * when the table writes them, per-version diffs otherwise), so
    * consumers see update_preimage/update_postimage pairs rather than
    * synthesized delete+insert when `graft.cdf=true`.
    */
  private def cdfBatch(start: Option[OffsetV1], endV: Long): DataFrame =
    start.map(version).orElse(startingVersion.map(_ - 1)) match {
      case None =>
        // governed (L114/r15): the CDF initial snapshot is a public
        // read like any other — hidden rows must not leak as inserts
        val snap = Snapshot.at(spark, log, Some(endV))
        table.governed(table.scan(snap, snap.activeFiles))
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("insert"))
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      case Some(startV) =>
        // changeFeed is itself governed — incremental CDF inherits it
        table.changeFeed(startV, endV)
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    }

  private def readFiles(snap: Snapshot, files: Seq[AddFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else
      // governed (L114): a streaming reader is a public read surface —
      // micro-batches see the same filtered/masked view batch reads do
      // (the CDF mode above is governed too, since r15)
      table.governed(table.scan(snap, files))
        .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftSource[$path]"
}

/** Streaming *sink* into a GraftLake table: each micro-batch commits
  * through [[GraftTable.appendStreamBatch]], whose (queryId, epochId)
  * txn dedup makes the write exactly-once under engine retries. The
  * table is created from the first batch's schema if absent.
  */
final class GraftSink(
    spark: SparkSession,
    path: String,
    options: Map[String, String]) extends org.apache.spark.sql.execution.streaming.Sink {

  // The dedup identity must be unique per query: falling back to the
  // table path would make two queries writing the same table (or one
  // relying on spark.sql.streaming.checkpointLocation) share
  // (appId, epoch) — the SetTxn dedup would silently DROP the second
  // query's early batches. Fail fast instead.
  private val appId = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    lower.get("queryid").orElse(lower.get("checkpointlocation")).getOrElse(
      throw new IllegalArgumentException(
        "graftlake sink requires a per-query identity for exactly-once " +
          "dedup: set .option(\"checkpointLocation\", ...) (or " +
          ".option(\"queryId\", ...)) on the writer — the session-wide " +
          "spark.sql.streaming.checkpointLocation conf is not visible " +
          "to the sink"))
  }

  // Micro-batch ingest is the reference's named origin of small-file
  // problems: `optimizeEvery = N` runs OPTIMIZE bin-packing after
  // every Nth epoch, so file count stays bounded by ingest rate ÷ N
  // instead of growing one file set per trigger. Compaction commits
  // are dataChange=false — downstream incremental readers never see
  // them as new data.
  private val optimizeEvery: Long = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    lower.get("optimizeevery").map(_.toLong).getOrElse(0L)
  }

  // `refreshMv = <viewPath>` keeps a materialized view over THIS
  // table fresh inside the ingest loop: each epoch's exactly-once
  // append is followed by an O(epoch delta) change-feed fold, so
  // dashboards read current state without a separate refresh
  // scheduler. Join views ride the same call (the dim reattaches from
  // the stored pointer).
  private val refreshMv: Option[String] = {
    val lower = options.map { case (k, v) => k.toLowerCase -> v }
    lower.get("refreshmv")
  }

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = StreamShim.asBatch(data)
    val table =
      if (GraftTable.isGraftTable(path)) GraftTable.forPath(spark, path)
      else GraftTable.create(spark, path, batch.limit(0))
    table.appendStreamBatch(appId, batchId, batch)
    if (optimizeEvery > 0 && batchId > 0 && batchId % optimizeEvery == 0)
      table.optimize()
    refreshMv.foreach { v =>
      // route by the stored marker: aggregate, COUNT DISTINCT, and
      // OUTER join views are different classes with different state
      // grains (an outer view's refresh folds only the fact feed —
      // its dim needs no stamp at all)
      val props = graft.lake.GraftTable.forPath(spark, v)
        .snapshot.metadata.map(_.properties).getOrElse(Map.empty)
      if (props.contains(graft.lake.MaterializedDistinct.DistinctKey))
        graft.lake.MaterializedDistinct.forPath(spark, v, table).refresh()
      else if (props.contains(graft.lake.MaterializedOuterJoin.OuterDimKey))
        graft.lake.MaterializedOuterJoin.forPath(spark, v, table).refresh()
      else graft.lake.MaterializedAgg.forPath(spark, v, table).refresh()
      ()
    }
  }

  override def toString: String = s"GraftSink[$path]"
}

/** `spark.read/readStream.format("graftlake").load(path)` and
  * `df.writeStream.format("graftlake").option("path", ...)` —
  * registered via META-INF/services so the short name resolves.
  */
final class GraftSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graftlake"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "'path' must be specified for the graftlake source"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val t = GraftTable.forPath(sqlContext.sparkSession, tablePath(parameters))
    val base = schema.getOrElse(t.snapshot.schema)
    val cdf = parameters.map { case (k, v) => k.toLowerCase -> v }
      .getOrElse("readchangefeed", "false").toBoolean
    val resolved =
      if (cdf && !base.fieldNames.contains("_change_type"))
        base.add("_change_type", "string")
      else base
    (shortName(), resolved)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new GraftSource(sqlContext, tablePath(parameters), parameters)

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation =
    new graft.sources.GraftRelation(sqlContext, tablePath(parameters), parameters)

  /** Batch write (`df.write.format("graftlake").mode(...)`, Delta
    * parity): ErrorIfExists/Ignore create, Append appends (creating a
    * missing table like Delta does), Overwrite replaces the data in
    * one commit (schema change gated behind `overwriteSchema=true`).
    * V1 `CreatableRelationProvider` never receives `partitionBy`, so
    * partition columns ride `option("partitionBy", "a,b")` at create.
    */
  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val path = tablePath(parameters)
    val spark = sqlContext.sparkSession
    val exists = GraftTable.isGraftTable(path)
    val parts = parameters.get("partitionBy").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    mode match {
      case SaveMode.ErrorIfExists =>
        require(!exists, s"GraftLake table already exists at $path")
        GraftTable.create(spark, path, data, parts)
      case SaveMode.Ignore =>
        if (!exists) GraftTable.create(spark, path, data, parts)
      case SaveMode.Append =>
        if (!exists) GraftTable.create(spark, path, data, parts)
        else GraftTable.forPath(spark, path).append(data,
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
      case SaveMode.Overwrite =>
        if (!exists) GraftTable.create(spark, path, data, parts)
        else GraftTable.forPath(spark, path).overwrite(data,
          overwriteSchema = parameters.get("overwriteSchema").exists(_.toBoolean))
    }
    createRelation(sqlContext, parameters)
  }

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graftlake sink supports Append output mode only, got $outputMode")
    new GraftSink(sqlContext.sparkSession, tablePath(parameters), parameters)
  }
}
