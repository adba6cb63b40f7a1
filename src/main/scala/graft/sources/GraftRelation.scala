package graft.sources

import graft.lake.GraftTable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** Batch-read relation for `spark.read.format("graftlake").load(path)`
  * (and `CREATE ... USING graftlake OPTIONS (path ...)`): it describes
  * the read — live, `versionAsOf`/`timestampAsOf`/`tagAsOf`, `rowIds`
  * or `readChangeFeed` — and hands it to
  * [[graft.plans.GovernedReadRule]], which replaces the relation with
  * GraftTable's one governed read. Without
  * `spark.sql.extensions=graft.GraftExtensions` a read fails.
  */
final class GraftRelation(
    override val sqlContext: SQLContext,
    path: String,
    options: Map[String, String] = Map.empty) extends BaseRelation with TableScan {

  private val table = GraftTable.forPath(sqlContext.sparkSession, path)
  private val opts = options.map { case (k, v) => k.toLowerCase -> v }

  /** Batch change-feed read (Delta parity):
    * `.option("readChangeFeed", true)` with optional
    * `startingVersion`/`endingVersion` (inclusive) returns the
    * operation-level feed instead of the snapshot.
    */
  private val cdfRead = opts.getOrElse("readchangefeed", "false").toBoolean
  private def cdfStart = opts.get("startingversion").map(_.toLong).getOrElse {
    // default: full history; on a log-cleaned table versions below the
    // checkpoint cannot be reconstructed — start just above it instead
    // of failing on a nonsensical "version -1" replay
    if (table.log.hasCommit(0)) 0L
    else table.log.checkpointVersion.map(_ + 1).getOrElse(0L)
  }
  private def cdfEnd = opts.get("endingversion").map(_.toLong)
    .getOrElse(table.version)

  /** Time travel through the reader, Delta-style:
    * `.option("versionAsOf", n)` / `.option("timestampAsOf", ts)`.
    */
  private val pinnedVersion: Option[Long] =
    opts.get("versionasof").map(_.toLong)
      .orElse(opts.get("tagasof").map(table.tagVersion)) // L112 refs
      .orElse(opts.get("timestampasof").map(ts =>
        graft.lake.Snapshot.versionAtTimestamp(table.log,
          graft.lake.Snapshot.parseTsMillis(ts))))

  /** Row tracking through the reader (Delta parity):
    * `.option("rowIds", true)` appends the stable `row_id` column —
    * requires `graft.rowTracking=true` on the table. Live-snapshot
    * reads only (a pinned version's files may predate id assignment).
    */
  private val withRowIds = opts.getOrElse("rowids", "false").toBoolean
  require(!withRowIds || (!cdfRead && pinnedVersion.isEmpty),
    "rowIds cannot combine with readChangeFeed or time travel")

  override def schema: StructType = {
    val base0 = pinnedVersion.fold(table.snapshot)(table.snapshotAt).schema
    val base =
      if (!withRowIds) base0
      else StructType(base0.fields :+
        org.apache.spark.sql.types.StructField("row_id",
          org.apache.spark.sql.types.LongType, nullable = true))
    if (!cdfRead) base
    else {
      // guard against tables that already carry the CDF columns (same
      // check as the streaming source's sourceSchema)
      val withType =
        if (base.fieldNames.contains("_change_type")) base
        else base.add("_change_type", "string")
      if (withType.fieldNames.contains("_commit_version")) withType
      else withType.add("_commit_version", "long")
    }
  }

  /** The governed read [[graft.plans.GovernedReadRule]] puts in this
    * relation's place, under `session`'s handle (policies bind its
    * principal).
    */
  private[graft] def read(session: SparkSession): DataFrame = {
    val t = GraftTable.forPath(session, path)
    // changeFeed's range is (from, to]; startingVersion is inclusive
    if (cdfRead) t.changeFeed(cdfStart - 1, cdfEnd)
    else if (withRowIds) t.toDFWithRowIds
    else t.read(None, pinnedVersion)
  }

  override def buildScan(): RDD[Row] =
    throw graft.plans.GovernedReadRule.extensionRequired(path)
}
