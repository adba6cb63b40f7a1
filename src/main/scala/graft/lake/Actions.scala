package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** GraftLake transaction-log action model — a from-scratch,
  * Delta-lake-shaped log on Parquet (reference docs/00-overview.md:10:
  * "Parquet files plus a `_delta_log` folder with JSON transaction
  * logs"). One JSON object per line per action; hand-rolled writer +
  * Jackson (bundled with Spark) reader, no external deps.
  */
sealed trait Action

/** Per-file column statistics powering data skipping (reference
  * docs/02-lab-optimizations.md:587-599 — min/max/null statistics),
  * keyed by physical column name. Each min/max string is the parquet
  * PHYSICAL value as [[Stats]] renders it from the footer: integers,
  * dates (epoch days) and timestamps (epoch micros) in decimal digits,
  * floating point as Java prints it, strings as UTF-8 text, booleans
  * as `true`/`false`, and decimals UNSCALED (`0.25` of a
  * `decimal(10,2)` is `25`), whatever their parquet width. Readers type
  * a bound by its column through [[Stats.decode]], never by the value
  * it is compared with.
  */
final case class FileStats(
    numRecords: Long,
    minValues: Map[String, String],
    maxValues: Map[String, String],
    nullCounts: Map[String, Long])

final case class AddFile(
    path: String,                          // relative to table root
    partitionValues: Map[String, String],
    size: Long,
    modificationTime: Long,
    dataChange: Boolean,
    stats: Option[FileStats],
    // row tracking: first stable row id in this file — row i of the
    // file has id baseRowId + i unless a materialized _graft_row_id
    // column (written by layout rewrites) overrides it
    baseRowId: Option[Long] = None) extends Action

final case class RemoveFile(
    path: String,
    deletionTimestamp: Long,
    dataChange: Boolean) extends Action

final case class Metadata(
    schemaJson: String,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    createdTime: Long) extends Action

final case class CommitInfo(
    timestamp: Long,
    operation: String,
    parameters: Map[String, String],
    metrics: Map[String, String]) extends Action

/** Deletion-vector sidecar (merge-on-read deletes): a parquet dir of
  * (file_path, row_index) pairs masked out at scan time.
  */
final case class AddDV(path: String) extends Action
final case class RemoveDV(path: String) extends Action

/** Reader/writer feature gating (Delta `protocol` action): a client
  * must support at least these versions to read/commit the table.
  * Lets future formats (new action types, encodings) be introduced
  * without old clients silently misreading them — they fail fast with
  * an upgrade message instead.
  */
final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
    readerFeatures: Seq[String] = Nil,
    writerFeatures: Seq[String] = Nil) extends Action

/** Change-data-feed sidecar (Delta `cdc` action): a parquet dir of
  * this commit's row-level changes (table schema + `_change_type` ∈
  * insert / delete / update_preimage / update_postimage), written by
  * DML ops when table property `graft.cdf=true`. Not part of
  * snapshot state — consumed per-commit by [[GraftTable.changeFeed]].
  */
final case class AddCDC(path: String) extends Action

/** Streaming-writer transaction marker (Delta `txn` action): the
  * latest epoch committed per stream id, replayed into snapshot state
  * so the exactly-once dedup check is an O(1) map lookup instead of an
  * O(history) log scan per micro-batch.
  */
final case class SetTxn(appId: String, epoch: Long) extends Action

/** Row-tracking high-water mark (Delta row-ID HWM parity): the
  * largest stable row id ever reserved in this table. Replayed into
  * snapshot state so id assignment never reuses a range — including
  * ranges held by REMOVED files, which time travel still reads.
  */
final case class RowIdHighWaterMark(highWaterMark: Long) extends Action

/** Identity-column allocation mark (Delta `GENERATED ALWAYS AS
  * IDENTITY` parity): the furthest value handed out for `column` —
  * largest for a positive step, smallest for a negative one. Replayed
  * last-wins (identity appends serialize via commit conflict) so every
  * writer allocates strictly past all previously written values.
  */
final case class IdentityHighWaterMark(column: String, highWaterMark: Long) extends Action

object Actions {

  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  private def strMap(m: Map[String, String]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => (k, q(v)) }: _*)

  private def longMap(m: Map[String, Long]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => (k, v.toString) }: _*)

  private def strArr(xs: Seq[String]): String = xs.map(q).mkString("[", ", ", "]")

  def toJson(a: Action): String = a match {
    case f: AddFile =>
      val base = Seq(
        "path" -> q(f.path),
        "partitionValues" -> strMap(f.partitionValues),
        "size" -> f.size.toString,
        "modificationTime" -> f.modificationTime.toString,
        "dataChange" -> f.dataChange.toString)
      val withStats = f.stats match {
        case Some(s) => base :+ ("stats" -> obj(
          "numRecords" -> s.numRecords.toString,
          "minValues" -> strMap(s.minValues),
          "maxValues" -> strMap(s.maxValues),
          "nullCounts" -> longMap(s.nullCounts)))
        case None => base
      }
      val withRowId = f.baseRowId match {
        case Some(b) => withStats :+ ("baseRowId" -> b.toString)
        case None => withStats
      }
      obj("add" -> obj(withRowId: _*))
    case r: RemoveFile =>
      obj("remove" -> obj(
        "path" -> q(r.path),
        "deletionTimestamp" -> r.deletionTimestamp.toString,
        "dataChange" -> r.dataChange.toString))
    case m: Metadata =>
      obj("metaData" -> obj(
        "schemaJson" -> q(m.schemaJson),
        "partitionColumns" -> strArr(m.partitionColumns),
        "properties" -> strMap(m.properties),
        "createdTime" -> m.createdTime.toString))
    case c: CommitInfo =>
      obj("commitInfo" -> obj(
        "timestamp" -> c.timestamp.toString,
        "operation" -> q(c.operation),
        "parameters" -> strMap(c.parameters),
        "metrics" -> strMap(c.metrics)))
    case d: AddDV => obj("addDV" -> obj("path" -> q(d.path)))
    case d: RemoveDV => obj("removeDV" -> obj("path" -> q(d.path)))
    case c: AddCDC => obj("addCDC" -> obj("path" -> q(c.path)))
    case p: Protocol =>
      // feature lists are written only when present, so pre-feature
      // logs stay byte-identical and old readers parse new logs that
      // don't use named features
      val base = Seq(
        "minReaderVersion" -> p.minReaderVersion.toString,
        "minWriterVersion" -> p.minWriterVersion.toString)
      val withR = if (p.readerFeatures.isEmpty) base
        else base :+ ("readerFeatures" -> strArr(p.readerFeatures.sorted))
      val withW = if (p.writerFeatures.isEmpty) withR
        else withR :+ ("writerFeatures" -> strArr(p.writerFeatures.sorted))
      obj("protocol" -> obj(withW: _*))
    case t: SetTxn =>
      obj("txn" -> obj("appId" -> q(t.appId), "epoch" -> t.epoch.toString))
    case h: RowIdHighWaterMark =>
      obj("rowIdHwm" -> obj("highWaterMark" -> h.highWaterMark.toString))
    case h: IdentityHighWaterMark =>
      obj("identityHwm" -> obj(
        "column" -> q(h.column),
        "highWaterMark" -> h.highWaterMark.toString))
  }

  private val mapper = new ObjectMapper()

  private def asStrMap(o: Any): Map[String, String] =
    if (o == null) Map.empty
    else o.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
      .map { case (k, v) => k -> String.valueOf(v) }

  private def asLongMap(o: Any): Map[String, Long] =
    if (o == null) Map.empty
    else o.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
      .map { case (k, v) => k -> String.valueOf(v).toLong }

  private val KnownActions = Set("add", "remove", "metaData", "commitInfo",
    "addDV", "removeDV", "addCDC", "txn", "protocol", "rowIdHwm", "identityHwm")

  def fromJson(line: String): Option[Action] = {
    val root = mapper.readValue(line, classOf[java.util.Map[String, Any]]).asScala
    // forward compatibility: unknown action types are SKIPPED, not
    // fatal — a writer introducing one must also raise the protocol
    // floor, whose gate then yields a clear "upgrade the client"
    // error; throwing here would preempt that message with an opaque
    // parse crash before the Protocol action is even seen
    root.headOption.filter(kv => KnownActions(kv._1)).map {
      case ("add", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        val stats = Option(m.getOrElse("stats", null)).map { so =>
          val sm = so.asInstanceOf[java.util.Map[String, Any]].asScala
          FileStats(
            String.valueOf(sm("numRecords")).toLong,
            asStrMap(sm.getOrElse("minValues", null)),
            asStrMap(sm.getOrElse("maxValues", null)),
            asLongMap(sm.getOrElse("nullCounts", null)))
        }
        AddFile(
          m("path").toString,
          asStrMap(m.getOrElse("partitionValues", null)),
          String.valueOf(m("size")).toLong,
          String.valueOf(m("modificationTime")).toLong,
          String.valueOf(m("dataChange")).toBoolean,
          stats,
          Option(m.getOrElse("baseRowId", null))
            .map(v => String.valueOf(v).toLong))
      case ("remove", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        RemoveFile(m("path").toString,
          String.valueOf(m("deletionTimestamp")).toLong,
          String.valueOf(m("dataChange")).toBoolean)
      case ("metaData", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        Metadata(m("schemaJson").toString,
          m("partitionColumns").asInstanceOf[java.util.List[Any]].asScala.toSeq.map(_.toString),
          asStrMap(m.getOrElse("properties", null)),
          String.valueOf(m("createdTime")).toLong)
      case ("commitInfo", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        CommitInfo(String.valueOf(m("timestamp")).toLong,
          m("operation").toString,
          asStrMap(m.getOrElse("parameters", null)),
          asStrMap(m.getOrElse("metrics", null)))
      case ("addDV", v) =>
        AddDV(v.asInstanceOf[java.util.Map[String, Any]].asScala("path").toString)
      case ("txn", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        SetTxn(m("appId").toString, String.valueOf(m("epoch")).toLong)
      case ("removeDV", v) =>
        RemoveDV(v.asInstanceOf[java.util.Map[String, Any]].asScala("path").toString)
      case ("addCDC", v) =>
        AddCDC(v.asInstanceOf[java.util.Map[String, Any]].asScala("path").toString)
      case ("protocol", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        def feats(k: String): Seq[String] = m.get(k) match {
          case Some(l: java.util.List[_]) => l.asScala.map(String.valueOf).toSeq
          case _ => Nil
        }
        Protocol(String.valueOf(m("minReaderVersion")).toInt,
          String.valueOf(m("minWriterVersion")).toInt,
          feats("readerFeatures"), feats("writerFeatures"))
      case ("rowIdHwm", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        RowIdHighWaterMark(String.valueOf(m("highWaterMark")).toLong)
      case ("identityHwm", v) =>
        val m = v.asInstanceOf[java.util.Map[String, Any]].asScala
        IdentityHighWaterMark(m("column").toString,
          String.valueOf(m("highWaterMark")).toLong)
      case (other, _) => // unreachable: filtered to KnownActions above
        throw new IllegalArgumentException(s"unknown action type: $other")
    }
  }
}

/** A prepared (phase-1) transaction squash: the actions to append,
  * the BEGIN version the optimistic check runs against, the
  * root-relative paths phase 1 moved (reclaimed on commit failure),
  * plus the transaction's read set and metadata-conflict flag so
  * phase 2's optimistic check covers add-only and DV-only squashes.
  */
private[lake] final case class SquashPlan(
    baseVersion: Long,
    actions: Seq[Action],
    movedRels: Seq[String],
    metrics: Map[String, String],
    readPaths: Set[String] = Set.empty,
    metadataConflict: Boolean = false)
