package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Transaction log for a GraftLake table: numbered JSON commit files
  * under `_graft_log/`, optimistic-concurrency commits via atomic
  * create-new (a concurrent writer racing to the same version loses
  * the create and retries against the refreshed state), and parquet
  * checkpoints every [[TxnLog.CheckpointInterval]] commits so replay
  * is O(tail) not O(history) — the property that keeps 100k-commit
  * tables plannable from the driver in milliseconds.
  *
  * Mirrors the `_delta_log` behavior the reference relies on
  * (reference docs/02-lab-optimizations.md:193-211 DESCRIBE HISTORY /
  * time travel), re-implemented from scratch.
  */
final class TxnLog(val tablePath: String,
    private[lake] val store: LogStore = PosixLogStore) {
  val logDir: Path = Paths.get(tablePath, "_graft_log")
  private val ckptDir = logDir.resolve("_checkpoints")
  private val txnDir = logDir.resolve("_txn")
  private val lastCkptFile = logDir.resolve("_last_checkpoint")

  def exists: Boolean = Files.isDirectory(logDir)

  private def versionFile(v: Long): Path = logDir.resolve(f"$v%020d.json")

  def listVersions(): Seq[Long] =
    if (!exists) Seq.empty
    else {
      val s = Files.list(logDir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && n.length == 25)
        .map(_.stripSuffix(".json").toLong)
        .toSeq.sorted
      finally s.close()
    }

  /** O(tail) instead of O(history): probe upward from the last
    * checkpoint version (commits are dense, so the first missing file
    * bounds the latest) rather than listing a directory that holds one
    * entry per commit ever made.
    *
    * A multi-table transaction RESERVATION at the tail whose decision
    * file does not exist yet is NOT part of the log: the version is
    * reported as the predecessor until the coordinator's single
    * atomic decision lands (or, past the pending grace window — a
    * crashed coordinator — this probe decides ABORT itself, making
    * the outcome permanent). Only the tail can ever be pending:
    * committing past a marker requires latestVersion to include it,
    * which requires it decided.
    */
  def latestVersion(): Option[Long] = {
    if (!exists) return None
    var v = lastCheckpointVersion().getOrElse(-1L)
    if (v < 0 && !Files.exists(versionFile(0))) return None
    if (v < 0) v = 0
    while (Files.exists(versionFile(v + 1))) v += 1
    if (v > decidedThrough && isPendingMarker(v)) {
      if (v == 0) None else Some(v - 1)
    } else {
      if (v > decidedThrough) decidedThrough = v
      Some(v)
    }
  }

  // versions at or below this are known decided (markers resolve to a
  // permanent outcome once their decision file exists, and plain
  // commits are immutable) — so the per-version marker peek runs at
  // most once per newly observed version per handle
  @volatile private var decidedThrough: Long = -1L

  private def markerLine(v: Long): Option[String] =
    scala.util.Try {
      val in = Files.newBufferedReader(versionFile(v), StandardCharsets.UTF_8)
      try Option(in.readLine()).filter(_.startsWith("{\"txnMarker\""))
      finally in.close()
    }.toOption.flatten

  private def isPendingMarker(v: Long): Boolean =
    markerLine(v) match {
      case None => false
      case Some(line) =>
        val m = parseMarker(line)
        resolvedOutcome(m, v) match {
          case Some(_) => false
          case None =>
            val age = System.currentTimeMillis() -
              Files.getLastModifiedTime(versionFile(v)).toMillis
            if (age >= TxnLog.PendingGraceMs) {
              // crashed coordinator: decide ABORT permanently so no
              // later decision can make the version appear
              // retroactively (the decide is an atomic create — if
              // the coordinator raced us and committed, we honor it)
              sealDecision(m.txnId, v, decide(m.coord, "abort"))
              false
            } else true
        }
    }

  private final case class TxnMarker(txnId: String, coord: String,
      staged: String)

  private def parseMarker(line: String): TxnMarker = {
    val root = TxnLog.mapper
      .readValue(line, classOf[java.util.Map[String, Any]])
    val m = root.get("txnMarker")
      .asInstanceOf[java.util.Map[String, Any]].asScala
    TxnMarker(m("txnId").toString, m("coord").toString,
      m("staged").toString)
  }

  /** The decision file's content once decided ("commit"/"abort"). */
  private def decisionOf(coordPath: String): Option[String] = {
    val p = Paths.get(coordPath)
    if (store.exists(p))
      Some(new String(store.read(p), StandardCharsets.UTF_8).trim)
    else None
  }

  // --- local decision seals ----------------------------------------------
  // A marker's decision file lives inside ONE participant table's
  // directory (the coordinator host). If that table is later DROPPED,
  // the surviving participants' committed markers would resolve to
  // "no decision" and a post-grace accessor would re-decide ABORT —
  // silently reverting a committed transaction. So the outcome is
  // SEALED locally (a tiny `_txn/<txnId>-<v>.decided` sidecar next to
  // the staged payload) the first time any handle observes it, and the
  // coordinator seals every participant eagerly right after the
  // decision lands. Resolution consults the local seal FIRST: commit
  // durability never depends on another table's directory surviving.
  private def sealPath(txnId: String, v: Long): Path =
    txnDir.resolve(s"$txnId-$v.decided")

  /** Durably record a marker's resolved outcome next to the table it
    * governs. Idempotent (create-exclusive; the outcome is permanent
    * once a decision file exists, so every sealer writes the same
    * content) and best-effort: a failed seal just means the next
    * resolution re-reads the coordinator path.
    */
  private[lake] def sealDecision(txnId: String, v: Long, outcome: String): Unit =
    scala.util.Try {
      Files.createDirectories(txnDir)
      store.createExclusive(sealPath(txnId, v),
        outcome.getBytes(StandardCharsets.UTF_8))
    }

  private def localSeal(txnId: String, v: Long): Option[String] = {
    val p = sealPath(txnId, v)
    if (store.exists(p))
      Some(new String(store.read(p), StandardCharsets.UTF_8).trim)
    else None
  }

  /** Marker outcome if decided: local seal first (survives the
    * coordinator host's deletion), else the coordinator decision file
    * — sealing locally on first observation.
    */
  private def resolvedOutcome(m: TxnMarker, v: Long): Option[String] =
    localSeal(m.txnId, v).orElse {
      decisionOf(m.coord).map { d => sealDecision(m.txnId, v, d); d }
    }

  /** Coordinator heartbeat: refresh a live reservation's mtime so the
    * pending-grace clock measures time since the coordinator last made
    * PROGRESS, not since the reservation first landed. Between the
    * first reservation and the decision the coordinator still performs
    * per-table conflict-checked reservations (snapshot replays) and
    * whole-directory CTAS moves — on large logs or many participants
    * that window can exceed [[TxnLog.PendingGraceMs]], and without the
    * heartbeat a concurrent accessor would grace-abort a live, healthy
    * commit. Only genuinely stalled coordinators now get grace-aborted.
    */
  private[lake] def refreshReservation(v: Long): Unit =
    scala.util.Try(Files.setLastModifiedTime(versionFile(v),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())))

  /** Replace this (staging-only, reader-free) table's whole log with
    * ONE version-0 reservation marker carrying the given state — the
    * gate that lets a transactional CTAS publish its directory BEFORE
    * the decision and still become visible only WITH it: until the
    * decision lands, `latestVersion` is None and the table reads as
    * "not a GraftLake table"; a crashed transaction leaves an aborted
    * husk (v0 resolves to TRANSACTION ABORTED, no metadata) that
    * reads as a clear error instead of a phantom table.
    */
  private[lake] def resetToReservation(actions: Seq[Action],
      coordPath: String, txnId: String): Unit = {
    if (Files.exists(logDir)) {
      val w = Files.walk(logDir)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    decidedThrough = -1L
    require(tryReserveAt(0, actions, coordPath, txnId),
      s"fresh reservation at $tablePath/0 cannot lose a create race")
  }

  /** The reserving transaction's id when version `v` is a marker. */
  private[lake] def reservationTxnId(v: Long): Option[String] =
    markerLine(v).map(parseMarker(_).txnId)

  /** THE atomic pointer swap of a multi-table transaction: whoever
    * creates the decision file first decides for every participant
    * table at once. The coordinator races with `want = "commit"`;
    * a conflicting writer or a post-crash accessor races with
    * `"abort"`. Losing the create is not an error — the winner's
    * content IS the outcome, returned either way.
    */
  private[lake] def decide(coordPath: String, want: String): String = {
    val p = Paths.get(coordPath)
    if (store.createExclusive(p, want.getBytes(StandardCharsets.UTF_8))) want
    else new String(store.read(p), StandardCharsets.UTF_8).trim
  }

  /** Atomically write `actions` as the next commit. Returns the
    * committed version. CREATE_NEW loses cleanly on a race; the
    * caller's `attempt` closure is re-invoked with the new latest
    * version so it can re-validate (optimistic concurrency).
    */
  def commit(actions: Seq[Action]): Long = {
    var attempt = latestVersion().map(_ + 1).getOrElse(0L)
    var committed = -1L
    while (committed < 0) {
      if (tryCommitAt(attempt, actions)) committed = attempt
      else {
        val next = latestVersion().map(_ + 1).getOrElse(0L)
        // lost the create but the log did not advance: the slot is an
        // in-flight multi-table reservation — back off, don't spin
        if (next == attempt) Thread.sleep(10)
        attempt = next
      }
    }
    committed
  }

  /** Single atomic attempt to commit as exactly version `v`; false on
    * losing the create race. Callers that must re-validate against
    * intervening commits (write-write conflict detection) use this
    * instead of the blind-retry [[commit]].
    */
  def tryCommitAt(v: Long, actions: Seq[Action]): Boolean = {
    Files.createDirectories(logDir)
    val adjusted = monotonicIct(v, actions)
    val payload = adjusted.map(Actions.toJson).mkString("", "\n", "\n")
    if (store.createExclusive(versionFile(v),
        payload.getBytes(StandardCharsets.UTF_8))) {
      // cache only on SUCCESS: a lost race means v holds the winner's
      // timestamp, not ours — caching ours would let a later commit
      // under-clamp against it
      adjusted.collectFirst { case c: CommitInfo => c.timestamp }
        .foreach { ts =>
          synchronized { ictCacheVersion = v; ictCacheTs = ts }
        }
      true
    } else false
  }

  /** Reserve version `v` for a multi-table transaction instead of
    * committing it: the full action payload is staged under
    * `_graft_log/_txn/` and the version file holds only a MARKER
    * pointing at the staged payload and the transaction's shared
    * decision file. The version stays invisible (latestVersion
    * reports the predecessor) until [[decide]] lands "commit" — one
    * atomic create that flips EVERY participant table's reservation
    * at once — or "abort" (the version resolves to an empty
    * TRANSACTION ABORTED commit). Same create-new race semantics as
    * [[tryCommitAt]].
    */
  private[lake] def tryReserveAt(v: Long, actions: Seq[Action],
      coordPath: String, txnId: String): Boolean = {
    Files.createDirectories(txnDir)
    val adjusted = monotonicIct(v, actions)
    val stagedRel = s"_txn/$txnId-$v.json"
    val payload = adjusted.map(Actions.toJson).mkString("", "\n", "\n")
    Files.write(logDir.resolve(stagedRel),
      payload.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    def jq(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val marker = s"""{"txnMarker": {"txnId": ${jq(txnId)}, """ +
      s""""coord": ${jq(coordPath)}, "staged": ${jq(stagedRel)}}}""" + "\n"
    if (store.createExclusive(versionFile(v),
        marker.getBytes(StandardCharsets.UTF_8))) {
      adjusted.collectFirst { case c: CommitInfo => c.timestamp }
        .foreach { ts =>
          synchronized { ictCacheVersion = v; ictCacheTs = ts }
        }
      true
    } else {
      Files.deleteIfExists(logDir.resolve(stagedRel))
      false
    }
  }

  // In-commit-timestamp monotonicity (Delta ICT parity): TIMESTAMP AS
  // OF resolves "latest commit ts ≤ t", which is only well-defined if
  // commit timestamps never run backwards — wall clocks can (NTP step,
  // a writer on a skewed host). Clamp each CommitInfo to at least
  // predecessor+1 at the one chokepoint every commit passes through.
  // The predecessor's ts is cached per (handle, version) so the steady
  // state costs zero extra reads; a lost commit race invalidates the
  // cache naturally (the retry targets a different v).
  private var ictCacheVersion: Long = -2L
  private var ictCacheTs: Long = -1L

  private def monotonicIct(v: Long, actions: Seq[Action]): Seq[Action] = {
    if (v <= 0 || !actions.exists(_.isInstanceOf[CommitInfo])) actions
    else {
      val prevTs = synchronized {
        if (ictCacheVersion == v - 1) ictCacheTs
        else if (hasCommit(v - 1)) commitTimestamp(v - 1)
        else -1L // predecessor cleaned up: any wall time is fine
      }
      actions.map {
        case c: CommitInfo if c.timestamp <= prevTs =>
          c.copy(timestamp = prevTs + 1)
        case a => a
      }
    }
  }

  def hasCommit(v: Long): Boolean = Files.exists(versionFile(v))

  /** Filesystem identity of a commit file (ns-precision mtime + size),
    * None if cleaned up. Distinguishes a deleted-and-recreated table at
    * the same path — committed versions are otherwise immutable, which
    * is what makes snapshot caching by (path, version, identity) safe.
    */
  def commitFileId(v: Long): Option[(Long, Long)] =
    scala.util.Try {
      val a = Files.readAttributes(versionFile(v),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
        a.size)
    }.toOption

  def readCommit(v: Long): Seq[Action] = {
    if (!hasCommit(v))
      throw new IllegalStateException(
        s"commit $v of $tablePath is unavailable (removed by log cleanup); " +
          "versions below the retained window cannot be reconstructed")
    val lines = Files.readAllLines(versionFile(v), StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty)
    lines.headOption match {
      case Some(l) if l.startsWith("{\"txnMarker\"") => resolveMarker(v, l)
      case _ => lines.flatMap(Actions.fromJson).toSeq
    }
  }

  /** Resolve a multi-table reservation marker to its permanent
    * content. Committed -> the staged payload (the staged file is
    * log-retained alongside the marker). Aborted -> a synthetic
    * empty TRANSACTION ABORTED commit. Undecided: within the grace
    * window this throws (callers never reach here through
    * latestVersion, only via explicit time travel at the pending
    * version); past it, the accessor decides ABORT — atomically, so
    * a racing coordinator either already won or never will.
    */
  private def resolveMarker(v: Long, line: String): Seq[Action] = {
    val m = parseMarker(line)
    resolvedOutcome(m, v) match {
      case Some("commit") =>
        Files.readAllLines(logDir.resolve(m.staged), StandardCharsets.UTF_8)
          .asScala.filter(_.nonEmpty).flatMap(Actions.fromJson).toSeq
      case Some(_) =>
        Seq(CommitInfo(
          Files.getLastModifiedTime(versionFile(v)).toMillis,
          "TRANSACTION ABORTED", Map("txnId" -> m.txnId), Map.empty))
      case None =>
        val age = System.currentTimeMillis() -
          Files.getLastModifiedTime(versionFile(v)).toMillis
        if (age >= TxnLog.PendingGraceMs) {
          sealDecision(m.txnId, v, decide(m.coord, "abort"))
          resolveMarker(v, line)
        } else throw new IllegalStateException(
          s"commit $v of $tablePath belongs to an in-flight multi-table " +
            "transaction; retry after it decides")
    }
  }

  def commitTimestamp(v: Long): Long =
    readCommit(v).collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(Files.getLastModifiedTime(versionFile(v)).toMillis)

  // --- checkpointing -----------------------------------------------------

  /** Tolerant read: `_last_checkpoint` is advisory — a torn/empty file
    * (crash mid-write, pre-atomic-rename versions) must degrade
    * gracefully, never crash the read/commit path. Before log cleanup
    * existed, "gracefully" meant replay-from-0; after cleanup the
    * early commits are gone and the checkpoint is load-bearing, so a
    * lost pointer falls back to scanning `_checkpoints/` for the
    * newest COMPLETE checkpoint (`_SUCCESS` present — a crash between
    * the parquet write and the pointer swap must not resurrect a torn
    * checkpoint).
    */
  private def lastCheckpointVersion(): Option[Long] = {
    val fromPointer =
      if (!Files.exists(lastCkptFile)) None
      else scala.util.Try(
        new String(Files.readAllBytes(lastCkptFile), StandardCharsets.UTF_8)
          .trim.toLong).toOption
    fromPointer.orElse(scanCheckpoints())
  }

  private def scanCheckpoints(): Option[Long] =
    if (!Files.isDirectory(ckptDir)) None
    else {
      val s = Files.list(ckptDir)
      val versions =
        try s.iterator().asScala
          .filter(d => Files.exists(d.resolve("_SUCCESS")))
          .map(_.getFileName.toString)
          .filter(_.startsWith("ckpt-"))
          .flatMap(n => scala.util.Try(n.stripPrefix("ckpt-").toLong).toOption)
          .toSeq
        finally s.close()
      versions.maxOption
    }

  private def ckptPath(v: Long): Path = ckptDir.resolve(f"ckpt-$v%020d")

  /** Write a parquet checkpoint of the full reconstructed state at
    * `v` (one serialized action per row). Called opportunistically by
    * [[GraftTable]] after commits.
    */
  def writeCheckpoint(spark: SparkSession, v: Long,
                      advancePointer: Boolean = true): Unit = {
    // seed from the previous checkpoint + tail, not a from-zero replay
    // — otherwise every 10th commit costs O(full history) JSON reads
    val state = Snapshot.at(spark, this, Some(v))
    val lines = state.metadata.toSeq.map(m => Actions.toJson(m)) ++
      state.protocol.toSeq.map(p => Actions.toJson(p)) ++
      state.activeFiles.map(a => Actions.toJson(a)) ++
      state.dvFiles.map(p => Actions.toJson(AddDV(p))) ++
      state.txns.toSeq.map { case (app, e) => Actions.toJson(SetTxn(app, e)) } ++
      (if (state.rowIdHwm >= 0)
         Seq(Actions.toJson(RowIdHighWaterMark(state.rowIdHwm))) else Nil) ++
      state.identityHwm.toSeq.sortBy(_._1).map { case (c, m) =>
        Actions.toJson(IdentityHighWaterMark(c, m)) }
    import spark.implicits._
    // single parquet part while the state is small; shard at ~100k
    // actions (spark.graft.checkpoint.partActions) so a 100k-file
    // table's checkpoint is written (and later scanned) in parallel
    // instead of through one task — the reader globs the directory
    // either way, so part count is invisible to it
    // clamp: 0 would yield ceil(n/0)=MaxValue partitions and a
    // negative value would pass repartition a non-positive count —
    // a misconfiguration must degrade to one part, not crash writes
    val partActions = math.max(1, scala.util.Try(spark.conf
      .get("spark.graft.checkpoint.partActions", "100000").toInt)
      .getOrElse(100000))
    if (lines.size <= partActions) {
      // small state: write the single parquet part ON THE DRIVER —
      // metadata of this size does not justify a Spark job (r16, guide
      // §1.2/§5: a checkpoint of a few hundred actions was paying a
      // full job-submit + write-commit round trip every 10th commit).
      // Format-identical to the Spark write (one optional UTF8 column
      // named `action` + _SUCCESS), so readers old and new see the
      // same layout; large states keep the sharded parallel write.
      TxnLog.writeCheckpointFileDriverSide(ckptPath(v), lines)
    } else {
      val ds = spark.createDataset(lines).toDF("action")
      ds.repartition(math.ceil(lines.size.toDouble / partActions).toInt)
        .write.mode("overwrite").parquet(ckptPath(v).toString)
    }
    // a HISTORICAL checkpoint (tag pinning, L112) must not move the
    // pointer backward — the directory scan still finds it by version
    if (!advancePointer) return
    // atomic pointer swap: readers must never observe a torn file
    val tmp = logDir.resolve(s"_last_checkpoint.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, lastCkptFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, lastCkptFile,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** (checkpointVersion, actions) if a usable checkpoint ≤ v exists. */
  def hasCheckpointAt(v: Long): Boolean =
    Files.exists(ckptPath(v).resolve("_SUCCESS"))

  /** Newest on-disk checkpoint at/below `v` — serves replays of tagged
    * versions older than the pointer's checkpoint (L112).
    */
  private def scanCheckpointAtOrBelow(v: Long): Option[Long] =
    if (!Files.isDirectory(ckptDir)) None
    else {
      val s = Files.list(ckptDir)
      val versions =
        try s.iterator().asScala
          .filter(d => Files.exists(d.resolve("_SUCCESS")))
          .map(_.getFileName.toString)
          .filter(_.startsWith("ckpt-"))
          .flatMap(n => scala.util.Try(n.stripPrefix("ckpt-").toLong).toOption)
          .filter(_ <= v)
          .toSeq
        finally s.close()
      versions.maxOption
    }

  def readCheckpoint(spark: SparkSession, v: Long): Option[(Long, Seq[Action])] =
    lastCheckpointVersion().filter(_ <= v)
      .orElse(scanCheckpointAtOrBelow(v)).map { cv =>
      // small checkpoints (the overwhelmingly common case) read ON THE
      // DRIVER: one footer + one row-group decode instead of a Spark
      // job + collect per cold snapshot resolution (r16). Large or
      // multi-part checkpoints keep the parallel Spark read.
      val lines = TxnLog.readCheckpointDriverSide(ckptPath(cv)).getOrElse(
        spark.read.parquet(ckptPath(cv).toString)
          .collect().map(_.getString(0)).toSeq)
      (cv, lines.flatMap(Actions.fromJson).toSeq)
    }

  def maybeCheckpoint(spark: SparkSession, v: Long): Unit =
    if (v > 0 && v % TxnLog.CheckpointInterval == 0) writeCheckpoint(spark, v)

  /** Log retention (Delta `logRetentionDuration` parity): delete commit
    * JSONs and superseded checkpoint dirs below the latest checkpoint
    * (minus `keepVersions` extra headroom). Replay of every version ≥
    * the cutoff still works through the checkpoint; time travel BELOW
    * it becomes impossible, exactly like Delta after its retention
    * window. At 100k commits this bounds the log directory instead of
    * letting it grow one file per commit forever.
    */
  /** Latest durable checkpoint version (pointer or dir-scan recovery). */
  def checkpointVersion: Option[Long] = lastCheckpointVersion()

  /** The version below which [[cleanupLogsAt]] would delete commits. */
  def cleanupCutoff(keepVersions: Long = 0): Option[Long] =
    for (cv <- lastCheckpointVersion(); latest <- latestVersion())
      yield math.min(cv, latest - keepVersions)

  def cleanupLogs(keepVersions: Long = 0): Int =
    cleanupCutoff(keepVersions).map(cleanupLogsAt(_)).getOrElse(0)

  /** Delete commits below an EXPLICIT cutoff (callers that reclaim
    * per-commit side state first must act on the same cutoff they
    * scanned, or a checkpoint advancing in between silently widens
    * the deletion past what they prepared for).
    */
  def cleanupLogsAt(cutoff: Long,
                    pinnedCkpts: Set[Long] = Set.empty): Int = {
    val cv = lastCheckpointVersion().getOrElse(return 0)
    val deletable = listVersions().filter(_ < math.min(cutoff, cv + 1))
    deletable.foreach(v => Files.deleteIfExists(versionFile(v)))
    // staged multi-table payloads and decision seals are log-retained
    // WITH their marker (committed markers resolve through them) —
    // reclaim exactly the ones whose marker version was just deleted
    if (Files.isDirectory(txnDir)) {
      val deleted = deletable.toSet
      val s = Files.list(txnDir)
      val staged = try s.iterator().asScala.toSeq finally s.close()
      staged.filter { p =>
        val n = p.getFileName.toString
        val stem =
          if (n.endsWith(".json")) Some(n.stripSuffix(".json"))
          else if (n.endsWith(".decided")) Some(n.stripSuffix(".decided"))
          else None
        stem.exists { st =>
          st.split('-').lastOption
            .flatMap(t => scala.util.Try(t.toLong).toOption)
            .exists(deleted.contains)
        }
      }.foreach(Files.deleteIfExists(_))
    }
    if (Files.isDirectory(ckptDir)) {
      val s = Files.list(ckptDir)
      val dirs = try s.iterator().asScala.toSeq finally s.close()
      dirs.filter { d =>
        val n = d.getFileName.toString
        n.startsWith("ckpt-") &&
          scala.util.Try(n.stripPrefix("ckpt-").toLong).toOption
            .exists(x => x < cv && !pinnedCkpts.contains(x))
      }.foreach { d =>
        val w = Files.walk(d)
        val all = try w.iterator().asScala.toSeq finally w.close()
        all.reverse.foreach(Files.deleteIfExists(_))
      }
    }
    deletable.size
  }
}

object TxnLog {
  val CheckpointInterval = 10

  /** Size above which a checkpoint directory is read through Spark
    * instead of on the driver (multi-part checkpoints always are).
    */
  private val DriverReadMaxBytes: Long = 64L * 1024 * 1024

  private val parquetSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message graft_checkpoint { optional binary action (UTF8); }")

  /** Write `lines` as one snappy parquet part + _SUCCESS, driver-side —
    * byte-compatible with what the Spark single-part write produced.
    */
  private[lake] def writeCheckpointFileDriverSide(dir: Path,
      lines: Seq[String]): Unit = {
    // mode("overwrite") semantics: replace whatever is there
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      val all = try w.iterator().asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    Files.createDirectories(dir)
    val part = dir.resolve("part-00000-driver.snappy.parquet")
    val conf = new org.apache.hadoop.conf.Configuration(Stats.hadoopConf)
    org.apache.parquet.hadoop.example.GroupWriteSupport
      .setSchema(parquetSchema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString), conf))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(parquetSchema)
      lines.foreach { l =>
        val g = factory.newGroup()
        g.append("action", l)
        writer.write(g)
      }
    } finally writer.close()
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** Driver-side read of a small checkpoint directory; None when the
    * directory is large/multi-part (callers fall back to Spark).
    */
  private[lake] def readCheckpointDriverSide(dir: Path): Option[Seq[String]] = {
    val s = Files.list(dir)
    val parts =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sortBy(_.toString)
      finally s.close()
    if (parts.isEmpty || parts.map(Files.size).sum > DriverReadMaxBytes)
      return None
    val out = Seq.newBuilder[String]
    parts.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(p.toString))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          // action is optional: a null cell (never written by us, but
          // tolerated like the Spark reader would) is skipped
          if (g.getFieldRepetitionCount("action") > 0)
            out += g.getString("action", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    Some(out.result())
  }

  /** How long an undecided multi-table reservation's mtime may age
    * (invisible but not abortable) before any accessor may decide
    * ABORT for the crashed coordinator. The coordinator HEARTBEATS
    * each live reservation's mtime ([[TxnLog.refreshReservation]])
    * after every unit of phase-2 work (each later table's reservation,
    * each CTAS directory move), so the clock measures time since last
    * progress — a healthy commit over many participants or large logs
    * never ages out, only a genuinely crashed coordinator does. Tests
    * set 0 to exercise recovery deterministically.
    */
  @volatile var PendingGraceMs: Long = 5000L

  private[lake] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
