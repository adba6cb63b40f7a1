package graft.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Reconstructed table state at a version: metadata + active files.
  * Replays the action log (from the latest parquet checkpoint when
  * available) applying add/remove set semantics, exactly like the
  * `_delta_log` replay the reference's time travel relies on
  * (reference docs/02-lab-optimizations.md:196-211).
  */
final case class Snapshot(
    version: Long,
    metadata: Option[Metadata],
    activeFiles: Seq[AddFile],
    dvFiles: Seq[String] = Nil,
    txns: Map[String, Long] = Map.empty,
    protocol: Option[Protocol] = None,
    // row tracking: largest row id ever reserved (-1 = none yet).
    // Monotone across versions — removed files keep their ranges
    // because time travel still reads them.
    rowIdHwm: Long = -1L,
    // identity columns: per-column furthest allocated value (largest
    // for a positive step, smallest for a negative one); last-wins
    // replay, identity appends serialize via commit conflict
    identityHwm: Map[String, Long] = Map.empty) {

  def schema: StructType =
    metadata.map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
      .getOrElse(new StructType())

  def partitionColumns: Seq[String] = metadata.map(_.partitionColumns).getOrElse(Nil)

  /** Column mapping (logical name → physical parquet name): lets
    * RENAME COLUMN be a metadata-only commit — data files keep their
    * original column names and the mapping bridges them at scan/write
    * time, like Delta's column-mapping mode.
    */
  def colMap: Map[String, String] =
    metadata.map(_.properties).getOrElse(Map.empty).collect {
      case (k, v) if k.startsWith("graft.colmap.") =>
        k.stripPrefix("graft.colmap.") -> v
    }

  def physicalName(c: String): String = colMap.getOrElse(c, c)

  /** Schema with on-disk (physical) column names, for parquet reads. */
  def physicalSchema: StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f.name))))

  /** Logical columns renamed back to their on-disk names — the layout
    * files handed to external readers (exports, clones) must keep.
    */
  private[lake] def physicalColumns: Seq[Column] =
    schema.fields.toSeq.map(f => col(f.name).as(physicalName(f.name)))

  def numFiles: Int = activeFiles.size
  def sizeInBytes: Long = activeFiles.map(_.size).sum
  def numRecords: Long = activeFiles.flatMap(_.stats.map(_.numRecords)).sum
}

object Snapshot {

  /** Pure-JSON replay from version 0 (no Spark, no checkpoint). Kept
    * for diagnostics; the hot paths go through [[at]]'s checkpoint
    * fast path.
    */
  private[lake] def replay(log: TxnLog, v: Long): Snapshot = {
    if (!log.hasCommit(0))
      throw new IllegalStateException(
        s"version $v of ${log.tablePath} predates the retained log window " +
          "(commits below the latest checkpoint were removed by log " +
          "cleanup); only versions at or above the checkpoint can be " +
          "reconstructed")
    applyActions(v, Nil, (0L to v).flatMap(log.readCommit))
  }

  /** Highest protocol this client implements. Bump when the log gains
    * actions/encodings an older client would misread.
    */
  val SupportedReaderVersion = 1
  // writer v2 = understands rowIdHwm/identityHwm actions: a v1 writer
  // would silently drop them and permit row-id/identity range reuse,
  // so tables with those features raise their floor to 2
  val SupportedWriterVersion = 2

  /** Named table features this client can read/write (Delta 3.x
    * `readerFeatures`/`writerFeatures` parity): version numbers gate
    * coarsely — "v2" says nothing about WHICH capability a client
    * lacks — while feature names let a table demand exactly what it
    * uses and let clients fail with an actionable message. A protocol
    * action carrying an unknown name blocks the read/commit.
    */
  val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "changeDataFeed", "typeWidening",
    "generatedColumns", "timestampNtz", "v2Checkpoint",
    // L114: a reader that does not evaluate row filters / column
    // masks would silently return RAW rows on a governed table — a
    // policy LEAK, not a compatibility nuisance — so the feature
    // gates the read itself
    "governance",
    // L119: a VARIANT column in the schema — pre-variant clients get
    // an actionable upgrade message instead of a schema parse error
    "variantType")
  val SupportedWriterFeatures: Set[String] = SupportedReaderFeatures ++ Set(
    "rowTracking", "identityColumns", "checkConstraints", "defaultColumns",
    "clustering", "appendOnly", "invariants", "materializedView")

  /** LRU of reconstructed snapshots. A committed version's content is
    * immutable (commits are CREATE_NEW files), so (path, version,
    * commit-file identity) fully determines the snapshot; the identity
    * component catches a table deleted and recreated at the same path.
    * Bounded: snapshots are KB–MB of file metadata, and the hot set is
    * the latest version of each live table. Saves a full log replay —
    * including the Spark checkpoint-parquet read — on every one of the
    * many `snapshot` accesses a single DML/maintenance op performs.
    */
  private type CacheKey =
    (String, Long, Option[(Long, Long)], Option[(Long, Long)])
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[CacheKey, Snapshot](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CacheKey, Snapshot]): Boolean = size() > 64
    })

  /** Replay with checkpoint fast-path. Enforces the reader half of the
    * protocol gate here — the one chokepoint every read path (table
    * API, format relation, streaming source) goes through.
    */
  def at(spark: SparkSession, log: TxnLog, version: Option[Long] = None): Snapshot = {
    val latest = log.latestVersion().getOrElse(
      throw new IllegalStateException(s"not a GraftLake table: ${log.tablePath}"))
    val v = version.getOrElse(latest)
    require(v <= latest, s"version $v does not exist (latest: $latest)")
    // Identity = this version's commit file AND the version-0 commit
    // file: a table dropped and recreated at the same path can
    // reproduce (v, mtime, size) on coarse-mtime filesystems, but
    // colliding on the creation commit too is vanishingly unlikely.
    // A cleaned-up commit file (identity None) is uncacheable — None
    // would alias every recreated table at that (path, version).
    val vId = log.commitFileId(v)
    val v0Id = log.commitFileId(0L)
    val key = (log.tablePath, v, vId, v0Id)
    val cachedSnap = if (vId.isEmpty) null else cache.get(key)
    val snap = if (cachedSnap != null) cachedSnap else {
      // Nearest cached ANCESTOR version of the same log advances
      // incrementally (r17): a DML-heavy sequence (MV fixtures commit
      // 6–9 versions back to back) otherwise pays a full O(versions)
      // log replay after every commit — O(V²) commit-file JSON parses
      // per table lifecycle on the driver. Identity is re-checked on
      // both the creation commit (key) and the ancestor's own commit
      // file, the same aliasing guard the cache hit uses; the
      // checkpoint still wins when it is newer than any cached
      // ancestor.
      val ancestor: Option[(Long, Snapshot)] =
        if (v0Id.isEmpty) None
        else {
          val keys = cache.synchronized {
            scala.jdk.CollectionConverters.SetHasAsScala(cache.keySet())
              .asScala.toVector
          }
          keys.filter(k => k._1 == log.tablePath && k._2 < v && k._4 == v0Id)
            .sortBy(-_._2).iterator
            .flatMap { k =>
              if (log.commitFileId(k._2) == k._3) Option(cache.get(k)).map(k._2 -> _)
              else None
            }.take(1).toSeq.headOption
        }
      // a near ancestor (≤ checkpoint interval commits behind) wins
      // without even opening the checkpoint — reading it is the cost
      // being avoided; a distant ancestor falls through to the
      // checkpoint/replay path unchanged
      val built = ancestor match {
        case Some((av, base)) if v - av <= 10 =>
          advance(base, v, ((av + 1) to v).flatMap(log.readCommit))
        case _ =>
          log.readCheckpoint(spark, v) match {
            case Some((cv, base)) =>
              applyActions(v, base, ((cv + 1) to v).flatMap(log.readCommit))
            case None => replay(log, v)
          }
      }
      if (vId.nonEmpty) cache.put(key, built)
      built
    }
    // every real table's version 0 writes Metadata; a v>=0 state with
    // none is a crashed transactional CTAS whose reservation aborted —
    // a clear error beats the NoSuchElementException readers would
    // hit. (v = -1, the empty pre-create state the change feed replays
    // from for inclusive-v0 ranges, is legitimately metadata-less.)
    if (v >= 0 && snap.metadata.isEmpty)
      throw new IllegalStateException(
        s"table at ${log.tablePath} has no metadata — its creating " +
          "transaction aborted before committing; delete the directory " +
          "or re-run the CTAS")
    snap.protocol.foreach { p =>
      if (p.minReaderVersion > SupportedReaderVersion)
        throw new UnsupportedOperationException(
          s"table ${log.tablePath} requires reader version " +
            s"${p.minReaderVersion} (this client supports " +
            s"$SupportedReaderVersion); upgrade the client to read it")
      val unknown = p.readerFeatures.filterNot(SupportedReaderFeatures)
      if (unknown.nonEmpty)
        throw new UnsupportedOperationException(
          s"table ${log.tablePath} requires reader features " +
            s"${unknown.sorted.mkString(", ")} this client does not " +
            "implement; upgrade the client to read it")
    }
    snap
  }

  /** Parse a `yyyy-MM-dd[ HH:mm:ss]` time-travel timestamp as UTC
    * epoch millis (the engine-wide session timezone) — shared by the
    * SQL front-end and the format reader.
    */
  def parseTsMillis(s: String): Long = {
    import java.time._
    val trimmed = s.trim
    val ldt =
      try LocalDateTime.parse(trimmed.replace(' ', 'T'))
      catch { case _: Exception => LocalDate.parse(trimmed).atStartOfDay() }
    ldt.toInstant(ZoneOffset.UTC).toEpochMilli
  }

  /** Apply one commit's actions on top of an existing snapshot — the
    * O(commit) incremental advance a version-walking consumer (change
    * feed) uses instead of a fresh checkpoint replay per version.
    */
  def advance(base: Snapshot, v: Long, tail: Seq[Action]): Snapshot = {
    var meta = base.metadata
    var proto = base.protocol
    val files = scala.collection.mutable.LinkedHashMap(
      base.activeFiles.map(a => a.path -> a): _*)
    val dvs = scala.collection.mutable.LinkedHashSet(base.dvFiles: _*)
    val txns = scala.collection.mutable.LinkedHashMap(base.txns.toSeq: _*)
    var hwm = base.rowIdHwm
    val idHwm = scala.collection.mutable.LinkedHashMap(base.identityHwm.toSeq: _*)
    tail.foreach {
      case m: Metadata => meta = Some(m)
      case p: Protocol => proto = Some(p)
      case a: AddFile => files(a.path) = a
      case r: RemoveFile => files.remove(r.path)
      case d: AddDV => dvs += d.path
      case d: RemoveDV => dvs -= d.path
      case t: SetTxn =>
        txns(t.appId) = math.max(t.epoch, txns.getOrElse(t.appId, Long.MinValue))
      case h: RowIdHighWaterMark => hwm = math.max(hwm, h.highWaterMark)
      case h: IdentityHighWaterMark => idHwm(h.column) = h.highWaterMark
      case _: AddCDC => ()
      case _: CommitInfo => ()
    }
    Snapshot(v, meta, files.values.toSeq, dvs.toSeq, txns.toMap, proto, hwm,
      idHwm.toMap)
  }

  /** Version whose commit timestamp is the latest ≤ `tsMillis`. */
  def versionAtTimestamp(log: TxnLog, tsMillis: Long): Long = {
    val vs = log.listVersions()
    vs.filter(v => log.commitTimestamp(v) <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $tsMillis"))
  }

  /** Streaming `startingTimestamp` resolution (Delta parity): the
    * EARLIEST version committed at-or-after the timestamp — the batch
    * reader's "latest at-or-before" rule would replay changes committed
    * strictly before the requested point. A timestamp past the log head
    * resolves to latest+1: the stream tails commits from now on.
    */
  def versionAtOrAfterTimestamp(log: TxnLog, tsMillis: Long): Long = {
    val vs = log.listVersions()
    vs.find(v => log.commitTimestamp(v) >= tsMillis)
      .getOrElse(vs.lastOption.map(_ + 1L).getOrElse(0L))
  }

  private def applyActions(v: Long, base: Seq[Action], tail: Seq[Action]): Snapshot = {
    var meta: Option[Metadata] = None
    var proto: Option[Protocol] = None
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    val dvs = scala.collection.mutable.LinkedHashSet[String]()
    val txns = scala.collection.mutable.LinkedHashMap[String, Long]()
    var hwm = -1L
    val idHwm = scala.collection.mutable.LinkedHashMap[String, Long]()
    (base ++ tail).foreach {
      case m: Metadata => meta = Some(m)
      case p: Protocol => proto = Some(p)
      case a: AddFile => files(a.path) = a
      case r: RemoveFile => files.remove(r.path)
      case d: AddDV => dvs += d.path
      case d: RemoveDV => dvs -= d.path
      case _: AddCDC => () // per-commit change feed, not snapshot state
      case t: SetTxn => txns(t.appId) = math.max(t.epoch, txns.getOrElse(t.appId, Long.MinValue))
      case h: RowIdHighWaterMark => hwm = math.max(hwm, h.highWaterMark)
      case h: IdentityHighWaterMark => idHwm(h.column) = h.highWaterMark
      case _: CommitInfo => ()
    }
    Snapshot(v, meta, files.values.toSeq, dvs.toSeq, txns.toMap, proto, hwm,
      idHwm.toMap)
  }
}
